"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus
the LLM-data-pipeline operator family) to a (spark, sf_dir) -> DataFrame
callable; ``oracle_sql()`` provides the DuckDB-equivalent ANSI SQL for
the correctness gate. Column names and rounding are aligned on both
sides so the driver's order-insensitive value hash matches.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

# Make the sibling package importable no matter how the driver loaded
# this module (cwd-independent).
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modelardb_rs_spark.engine import Engine
from modelardb_rs_spark.operators import ann_index as ann_ops
from modelardb_rs_spark.operators import asof as asof_ops
from modelardb_rs_spark.operators import dedup as dedup_ops
from modelardb_rs_spark.operators import lines as line_ops
from modelardb_rs_spark.operators import mixing as mix_ops
from modelardb_rs_spark.operators import multimodal as mm_ops
from modelardb_rs_spark.operators import pii as pii_ops
from modelardb_rs_spark.operators import similarity as sim_ops
from modelardb_rs_spark.operators import text as text_ops
from modelardb_rs_spark.sources.testdata import load_table


def _prep(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Load driver tables with UTC semantics (so formatted timestamps are
    engine-independent). documents/embeddings arrive as one unsplittable
    Parquet row group, so expression-heavy operators over them are
    repartitioned up front to use every core."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = []
    for n in names:
        df = load_table(spark, sf_dir, n)
        if n in ("documents", "embeddings"):
            # 8-way: enough to unpin the single row group without paying
            # 32 Python-worker spin-ups for the Arrow UDF operators.
            df = df.repartition(min(8, spark.sparkContext.defaultParallelism))
        out.append(df)
    return out


# ---------------------------------------------------------------------------
# Time series engine state: events ingested into a compressed time series
# table once per (process, sf_dir), cached under /tmp.
# ---------------------------------------------------------------------------

_TS_TABLE_DDL = (
    "CREATE TIME SERIES TABLE ts_events(timestamp TIMESTAMP, value FIELD, "
    "scaled FIELD(0.5), doubled FIELD AS (value + value), etype TAG)"
)


# One long-lived Engine per (session id, folder root): a real
# deployment holds an Engine open, and its snapshot/commit-log/reader
# caches only pay off across calls — a fresh Engine per query would
# re-resolve the same immutable state every time.
_ENGINE_CACHE: dict = {}

# /tmp cache roots the entries build once per (process, sf): each kind
# is one sparkmodelar_<kind> directory. Single source of truth so
# bench.py and the gate replica clear them through ONE helper instead
# of parallel rmtree blocks that drift as kinds are added.
_CACHE_KINDS = ("entry", "annidx", "statsidx", "maintidx", "trainexport")


def cache_root(kind: str) -> str:
    """The /tmp root for one entry-cache kind (see _CACHE_KINDS)."""
    if kind not in _CACHE_KINDS:
        raise ValueError(f"unknown cache kind {kind!r}; have {_CACHE_KINDS}")
    return os.path.join(tempfile.gettempdir(), f"sparkmodelar_{kind}")


def clear_caches(
    kinds: tuple[str, ...] = _CACHE_KINDS, sf_name: str | None = None
) -> None:
    """Remove entry caches so a run measures current code, not stale
    files. ``sf_name`` limits the (versioned, per-sf) ``entry`` kind to
    that scale factor's subdirectories; every other kind is removed
    whole. bench.py clears before timing; the gate replica clears the
    kinds whose staleness could mask a broken writer."""
    import shutil

    for kind in kinds:
        root = cache_root(kind)
        if kind == "entry" and sf_name is not None:
            if os.path.isdir(root):
                for d in os.listdir(root):
                    if d.startswith(sf_name):
                        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        else:
            shutil.rmtree(root, ignore_errors=True)


def _cached_engine(spark: SparkSession, root: str) -> Engine:
    ck = (spark.sparkContext.applicationId, root)
    eng = _ENGINE_CACHE.get(ck)
    if eng is None:
        eng = _ENGINE_CACHE[ck] = Engine(spark, root)
    return eng


def _ts_engine(spark: SparkSession, sf_dir: str) -> Engine:
    import fcntl
    import hashlib

    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    # version the cache by the DDL and the physical segment layout so
    # schema changes across rounds never read a stale /tmp data folder
    # (layout 5: add-entries carry commit-log series rows)
    ver = hashlib.md5(f"{_TS_TABLE_DDL}|layout=5".encode()).hexdigest()[:8]
    root = os.path.join(cache_root("entry"), f"{key}_{ver}")
    ck = (spark.sparkContext.applicationId, root)
    cached = _ENGINE_CACHE.get(ck)
    if cached is not None and os.path.exists(os.path.join(root, ".build_done")):
        return cached
    os.makedirs(root, exist_ok=True)
    # serialize the one-time build across concurrent query invocations;
    # the marker is written only after a successful ingest so a crashed
    # or interrupted build is retried, never served as an empty table
    marker = os.path.join(root, ".build_done")
    with open(os.path.join(root, ".build_lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        eng = _cached_engine(spark, root)
        if not os.path.exists(marker):
            if "ts_events" in eng.tables():
                eng.read_sql("DROP TABLE IF EXISTS ts_events")
            eng.read_sql(_TS_TABLE_DDL)
            (events,) = _prep(spark, sf_dir, "events")
            pts = events.select(
                F.col("ts").alias("timestamp"),
                F.col("value").cast("float").alias("value"),
                (F.col("value") * 3.0).cast("float").alias("scaled"),
                F.col("event_type").alias("etype"),
            )
            eng.write("ts_events", pts)
            with open(marker, "w") as m:
                m.write("ok")
    _ENGINE_CACHE[ck] = eng
    return eng


# ---------------------------------------------------------------------------
# Relational queries (the inherited SQL operator surface)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + groupBy + 6 aggregates."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + group + top-10 by revenue (deterministic tie-break)."""
    cust, orders, li = _prep(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        cust.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way join through region/nation with broadcast-able dims."""
    region, nation, cust, orders, li, supp = _prep(
        spark, sf_dir, "region", "nation", "customer", "orders", "lineitem", "supplier"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective filter + single-row aggregate (predicate pushdown path)."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join + group + order + limit."""
    cust, orders = _prep(spark, sf_dir, "customer", "orders")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"), F.count("*").alias("n_orders"))
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS (left-semi join) + group + count."""
    orders, li = _prep(spark, sf_dir, "orders", "lineitem")
    return (
        orders.join(li.select("l_orderkey").distinct(), F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window aggregation: per-customer running order total."""
    from pyspark.sql import Window

    (orders,) = _prep(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        orders.withColumn("running_total", F.round(F.sum("o_totalprice").over(w), 2))
        .where(F.col("o_custkey") <= 100)
        .select("o_custkey", "o_orderkey", "running_total")
    )


def q_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregation per group."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer key sets."""
    (cust,) = _prep(spark, sf_dir, "customer")
    auto = cust.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    rich = cust.where(F.col("c_acctbal") > 5000).select("c_custkey")
    return spark.createDataFrame(
        [], "set_op string, n long"
    ).unionByName(
        auto.union(rich).distinct().agg(F.lit("union").alias("set_op"), F.count("*").alias("n"))
    ).unionByName(
        auto.intersect(rich).agg(F.lit("intersect").alias("set_op"), F.count("*").alias("n"))
    ).unionByName(
        auto.exceptAll(rich).distinct().agg(F.lit("except").alias("set_op"), F.count("*").alias("n"))
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: ROLLUP over (returnflag, linestatus) with grand
    total (NULL markers replaced for stable hashing)."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
            "qty",
        )
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS (left-anti join): customers with no high-value orders,
    by segment."""
    cust, orders = _prep(spark, sf_dir, "customer", "orders")
    big = orders.where(F.col("o_totalprice") > 400000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment (window row_number)."""
    from pyspark.sql import Window

    cust, orders = _prep(spark, sf_dir, "customer", "orders")
    joined = orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("c_mktsegment", "rk", "o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window (hourly rollup) as strings for
    engine-independent comparison."""
    (ev,) = _prep(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag(): count 30-minute-gap sessions per user."""
    from pyspark.sql import Window

    (ev,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # µs-exact gap math: unix_timestamp() is second-precision and can
    # disagree with the oracle on gaps of exactly the threshold.
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    starts = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    return (
        ev.withColumn("session_start", starts)
        .groupBy("user_id")
        .agg(F.sum("session_start").alias("n_sessions"), F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Time series engine queries (the ModelarDB-specific operator surface)
# ---------------------------------------------------------------------------


def ts_grid_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compress → store → grid → SQL group-by: lossless round-trip."""
    eng = _ts_engine(spark, sf_dir)
    return eng.read_sql(
        "SELECT etype, count(value) AS n, round(sum(value), 2) AS total "
        "FROM ts_events WHERE timestamp >= timestamp '1970-01-01' GROUP BY etype"
    )


def ts_pushdown_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based aggregate rewrite: COUNT/MIN/MAX/SUM/AVG straight off
    segment statistics (no decode)."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.read_sql(
        "SELECT count(value) AS cnt, min(value) AS mn, max(value) AS mx, "
        "sum(value) AS sm, avg(value) AS av FROM ts_events"
    )
    return out.select(
        "cnt", "mn", "mx", F.round("sm", 2).alias("sm"), F.round("av", 4).alias("av")
    )


def ts_pushdown_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/stddev pushdown from the seg_sum_sq statistics column —
    an accumulator the reference's rewrite does not have. Grouped by tag
    to exercise the grouped stats path too."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.read_sql(
        "SELECT etype, var_pop(value) AS vp, stddev_samp(value) AS sd "
        "FROM ts_events GROUP BY etype"
    )
    return out.select(
        "etype", F.round("vp", 4).alias("vp"), F.round("sd", 4).alias("sd")
    )


def ts_pushdown_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-by-tag segment aggregates (superset of the reference rule)."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.read_sql(
        "SELECT etype, count(value) AS n, min(value) AS mn, max(value) AS mx "
        "FROM ts_events GROUP BY etype"
    )
    return out


def ts_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-pruned time-range read (timestamp predicate rewrite)."""
    eng = _ts_engine(spark, sf_dir)
    df = eng.table("ts_events", fields=["value"], start="2024-01-05", end="2024-01-15")
    return df.groupBy("etype").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )


def ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket downsampling (Engine.resample →
    operators/aggregates.py::segment_aggregates): daily buckets per event
    type. Segments inside one bucket answer from their stats and
    PMC-regular ones crossing buckets in closed form, without decoding
    (an operator past the reference's rewrite set); the irregular events
    series exercises the gridded fallback here."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.resample(
        "ts_events", "1 day", {"value": ["count", "sum"]}, group_by=["etype"]
    )
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "etype",
        F.col("count_value").alias("n"),
        F.round("sum_value", 2).alias("total"),
    )


def ts_last_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL last()/first() idiom: max_by/min_by(field, timestamp) routed
    to the edge-points read (engine.py rewrite → grid.py::edge_points)."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.read_sql(
        "SELECT etype, max_by(value, timestamp) AS last_v, "
        "min_by(value, timestamp) AS first_v FROM ts_events GROUP BY etype"
    )
    return out


def ts_value_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup with linear interpolation (Engine.value_at →
    operators/gapfill.py::value_at): O(series) candidate-segment decode."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.value_at("ts_events", "2024-01-15T12:00:00", fields=["value"])
    return out.select(
        "etype", "field", "timestamp", F.round("value", 4).alias("value")
    )


def ts_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outliers with segment skipping (Engine.outliers →
    operators/anomaly.py): per-series mean/σ from segment stats, decode
    only envelope-crossing segments. z=1.6 because the bench stream is
    near-uniform (no 3σ tail)."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.outliers("ts_events", z=1.6, fields=["value"])
    return out.groupBy("etype").agg(
        F.count("*").alias("n_outliers"),
        F.round(F.sum(F.abs(F.col("zscore"))), 2).alias("z_sum"),
    )


def ts_series_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series coverage from metadata only (Engine.series_spans):
    first/last timestamp + point count, zero decode."""
    eng = _ts_engine(spark, sf_dir)
    return eng.series_spans("ts_events", fields=["value"])


def ts_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-second rate / finite differences (Engine.deltas →
    operators/series.py), summarized per event type."""
    eng = _ts_engine(spark, sf_dir)
    d = eng.deltas("ts_events", "value")
    return d.groupBy("etype").agg(
        F.count("rate").alias("n_rates"),
        F.round(F.sum("delta"), 2).alias("delta_sum"),
        F.round(F.avg("dt_s"), 4).alias("avg_dt_s"),
    )


def ts_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 10-point rolling mean (Engine.rolling_mean →
    operators/series.py), checksummed per event type."""
    eng = _ts_engine(spark, sf_dir)
    r = eng.rolling_mean("ts_events", "value", n=10)
    return r.groupBy("etype").agg(
        F.count("*").alias("n"),
        F.round(F.sum("rolling_mean"), 2).alias("roll_sum"),
    )


def ts_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series fixed-bin value histogram (Engine.histogram →
    operators/downsample.py::value_histogram)."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.histogram("ts_events", "value", lo=0.0, hi=400.0, nbins=8)
    return out.select("etype", "bin", F.round("bin_lo", 2).alias("bin_lo"), "n")


def ts_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling (Engine.m4 →
    operators/downsample.py): first/last/min/max point per (type, day)."""
    eng = _ts_engine(spark, sf_dir)
    return eng.m4("ts_events", "1 day", "value")


def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid read with linear gap interpolation (Engine.gapfill →
    operators/gapfill.py): hourly buckets per event type (~half the
    (type, hour) slots are empty at sf0.01), summarized per type so the
    oracle stays exact: slot count, gap count, and the rounded sum of
    the filled series pin the interpolation arithmetic."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.gapfill("ts_events", "1 hour", "value", method="linear")
    return out.groupBy("etype").agg(
        F.count("*").alias("n_slots"),
        F.sum(F.col("was_gap").cast("long")).alias("n_gaps"),
        F.round(F.sum("value"), 2).alias("filled_sum"),
    )


def ts_resample_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface of the resample rewrite: GROUP BY
    time_bucket(...) in the engine dialect routes through
    operators/aggregates.py::segment_aggregates
    (engine.py::_try_aggregate_pushdown)."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.read_sql(
        "SELECT time_bucket('1 day', timestamp) AS bucket, etype, "
        "count(value) AS n, sum(value) AS total "
        "FROM ts_events GROUP BY time_bucket('1 day', timestamp), etype"
    )
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "etype",
        "n",
        F.round("total", 2).alias("total"),
    )


def ts_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last observation per series (Engine.last_points →
    operators/grid.py::latest_points): segment metadata locates each
    series' final segment; only those segments decode."""
    eng = _ts_engine(spark, sf_dir)
    return eng.last_points("ts_events", fields=["value"])


def ts_limit_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare LIMIT bounds the segment scan with a commit-log time cutoff
    (plans/sql.py Select.bare_limit, read by Engine.register_views, +
    datafolder.limit_time_cutoff; reference
    pushes LIMIT into the scan, time_series_table.rs:447 +
    grid_exec.rs:239-246): only the file prefix that provably
    reconstructs >= n rows is read. The oracle compares the
    deterministic part — the row count of the limited scan."""
    eng = _ts_engine(spark, sf_dir)
    limited = eng.read_sql("SELECT timestamp, value, etype FROM ts_events LIMIT 500")
    return limited.agg(F.count(F.lit(1)).alias("n"))


def ts_value_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-predicate pushdown to segment statistics: `WHERE value >= x`
    prunes every segment whose max_value < x BEFORE decode (a 'number'
    predicate of plans/sql.py -> Engine.table(value_filters=...);
    min_value/max_value are of RECONSTRUCTED values, so lossy tables
    prune safely). The aggregate projection is allowed because WHERE
    filters rows first: the pushed conjuncts come from the WHERE
    directly over the table, whatever the projection computes."""
    eng = _ts_engine(spark, sf_dir)
    return eng.read_sql(
        "SELECT count(value) AS n, round(sum(value), 2) AS s "
        "FROM ts_events WHERE value >= 200.0 AND etype = 'click'"
    )


def ts_tag_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-equality WHERE handled by the metadata-only aggregate rewrite
    (a superset of the reference's rule, which bails on any filter)."""
    eng = _ts_engine(spark, sf_dir)
    return eng.read_sql(
        "SELECT count(value) AS n, min(value) AS mn, max(value) AS mx "
        "FROM ts_events WHERE etype = 'click'"
    )


def ts_range_partial_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ranged aggregates from interior-segment stats + closed-form or
    decoded boundary segments (operators/aggregates.py::segment_aggregates)."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.read_time_series_table(
        "ts_events",
        columns={"value": "sum"},
        group_by=["etype"],
        start="2024-01-05",
        end="2024-01-15",
    )
    return out.select("etype", F.round("sum_value", 2).alias("sum_value"))


def ts_generated_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated column (FIELD AS expr) evaluated at query time."""
    eng = _ts_engine(spark, sf_dir)
    return eng.read_sql(
        "SELECT etype, round(sum(doubled), 2) AS sum_doubled, count(doubled) AS n "
        "FROM ts_events WHERE timestamp >= timestamp '1970-01-01' GROUP BY etype"
    )


def ts_multifield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate reassembly of two independently-segmented stored
    fields (SortedJoinExec semantics, reference
    sorted_join_exec.rs:278-310). Exact oracle: `n` checks reassembly
    multiplicity, `sum_value` the lossless stream, and `n_within_bound`
    must equal `n` — `scaled` is stored under a 0.5 absolute bound, so a
    row pairing `scaled` with the wrong timestamp's `value` would break
    |scaled - 3*value| <= 0.5 (values swing ~0..327 between points)."""
    eng = _ts_engine(spark, sf_dir)
    df = eng.table("ts_events", fields=["value", "scaled"])
    within = (F.abs(F.col("scaled") - 3.0 * F.col("value")) <= 0.5).cast("long")
    return df.agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.sum(within).alias("n_within_bound"),
    )


def ts_many_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user series (100+ tag combinations): compression parallelism
    across many series + grouped segment-pushdown aggregates."""
    import fcntl

    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    # versioned like _ts_engine: layout 5 adds commit-log series rows
    root = os.path.join(cache_root("entry"), key + "_users_layout5")
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, ".build_lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        eng = _cached_engine(spark, root)
        if "user_series" not in eng.tables():
            eng.read_sql(
                "CREATE TIME SERIES TABLE user_series(timestamp TIMESTAMP, value FIELD, uid TAG)"
            )
            (events,) = _prep(spark, sf_dir, "events")
            eng.write(
                "user_series",
                events.select(
                    F.col("ts").alias("timestamp"),
                    F.col("value").cast("float").alias("value"),
                    F.col("user_id").cast("string").alias("uid"),
                ),
            )
    out = eng.read_sql(
        "SELECT uid, count(value) AS n, min(value) AS mn, max(value) AS mx "
        "FROM user_series GROUP BY uid"
    )
    return out


def ts_lossy_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-compression contract vs the ORIGINAL input: `scaled` is
    stored under a 0.5 absolute error bound (reference
    crates/modelardb_compression/src/lib.rs error-bound guarantee), so
    for every (timestamp, etype) group of raw points the stored group sum
    must stay within 0.5*n of the raw sum (any per-point pairing bound
    implies the group-sum bound). The oracle pins violations = 0 plus the
    group/point counts — a broken fitter, quantizer, or grid
    reconstruction shows up as a nonzero violation count and a hash
    mismatch."""
    eng = _ts_engine(spark, sf_dir)
    stored = (
        eng.table("ts_events", fields=["scaled"])
        .groupBy("timestamp", "etype")
        .agg(F.sum(F.col("scaled").cast("double")).alias("s_sum"), F.count("*").alias("s_n"))
    )
    (events,) = _prep(spark, sf_dir, "events")
    raw = (
        events.select(
            F.col("ts").alias("timestamp"),
            F.col("event_type").alias("etype"),
            (F.col("value") * 3.0).cast("float").cast("double").alias("expected"),
        )
        .groupBy("timestamp", "etype")
        .agg(F.sum("expected").alias("r_sum"), F.count("*").alias("r_n"))
    )
    joined = stored.join(raw, ["timestamp", "etype"], "full_outer")
    bad = (
        F.col("s_n").isNull()
        | F.col("r_n").isNull()
        | (F.col("s_n") != F.col("r_n"))
        | (F.abs(F.col("s_sum") - F.col("r_sum")) > 0.5 * F.col("r_n") + 1e-3)
    )
    return joined.agg(
        F.sum(bad.cast("long")).alias("violations"),
        F.sum("r_n").alias("n_points"),
        F.count("*").alias("n_groups"),
    )


def ts_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log time travel: events written in two commits split at
    2024-01-16; reading snapshot version 0 (and the same snapshot by its
    commit wall-clock) must see exactly the first half, while the current
    snapshot sees everything (reference tables are Delta with the same
    version/timestamp reads, data_folder/mod.rs:89-260)."""
    import fcntl

    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(cache_root("entry"), key + "_travel")
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, ".build_lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        eng = _cached_engine(spark, root)
        if "tt_events" not in eng.tables():
            eng.read_sql(
                "CREATE TIME SERIES TABLE tt_events(timestamp TIMESTAMP, value FIELD, etype TAG)"
            )
            (events,) = _prep(spark, sf_dir, "events")
            pts = events.select(
                F.col("ts").alias("timestamp"),
                F.col("value").cast("float").alias("value"),
                F.col("event_type").alias("etype"),
            )
            cut = F.lit("2024-01-16").cast("timestamp")
            eng.write("tt_events", pts.where(F.col("timestamp") < cut))
            eng.write("tt_events", pts.where(F.col("timestamp") >= cut))
    hist = eng.folder.history("tt_events")

    def agg(df: DataFrame, pfx: str) -> DataFrame:
        return df.agg(
            F.count("*").alias(f"{pfx}_n"), F.round(F.sum("value"), 2).alias(f"{pfx}_sum")
        )

    v0 = agg(eng.table("tt_events", version=hist[0]["version"]), "v0")
    t0 = agg(eng.table("tt_events", timestamp_ms=hist[0]["timestamp_ms"]), "t0")
    cur = agg(eng.table("tt_events"), "cur")
    return (
        v0.crossJoin(t0)
        .crossJoin(cur)
        .withColumn("n_commits", F.lit(len(hist)).cast("long"))
    )


def stream_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming run (streaming/ingest.py::
    windowed_rollup): file-source stream over events.parquet, watermarked
    hourly event-time windows per event type, availableNow trigger into a
    memory sink. Deterministic subset: append mode only emits windows the
    final watermark (max event time - 10 min) has closed, so both sides
    filter to window_end <= max_ts - 10 min — the oracle reproduces the
    same closed-window set in batch SQL."""
    import uuid

    from modelardb_rs_spark.streaming.ingest import windowed_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    # the file source needs a directory: expose the single parquet file
    # through a per-sf symlink dir (testdata itself is read-only)
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    stream_dir = os.path.join(
        cache_root("entry"), f"{key}_streamsrc"
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    batch = spark.read.parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(stream_dir)
    if dict(batch.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    rolled = windowed_rollup(
        stream, "ts", "value", ["event_type"], window="1 hour",
        watermark="10 minutes",
    )
    name = f"rollup_{uuid.uuid4().hex[:12]}"
    q = (
        rolled.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    (ev,) = _prep(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.max(F.unix_micros("ts")) - F.lit(600_000_000)).alias("c")
    ).collect()[0].c
    out = spark.table(name).where(F.unix_micros("window_end") <= F.lit(int(cutoff)))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:00:00").alias("hour"),
        F.col("event_type").alias("etype"),
        "n",
        F.round(F.col("sum_value"), 2).alias("total"),
        F.col("min_value").alias("mn"),
        F.col("max_value").alias("mx"),
    )


def stream_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous rollup (streaming/rollup.py): a real streaming job
    appends per-batch PARTIAL aggregates to an engine table through the
    transactional log; the read merges partials (monoid), so the result
    is watermark-independent and has an exact batch oracle."""
    import uuid

    from modelardb_rs_spark.streaming.rollup import read_rollup, start_continuous_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    stream_dir = os.path.join(
        cache_root("entry"), f"{key}_streamsrc"
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    batch = spark.read.parquet(path)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(stream_dir)
    if dict(batch.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    # fresh folder + checkpoint per invocation: reruns never double-append
    work = tempfile.mkdtemp(prefix=f"rollup_{uuid.uuid4().hex[:8]}_")
    eng = Engine(spark, os.path.join(work, "folder"))
    q = start_continuous_rollup(
        eng, stream, "events_rollup", "ts", "value", ["event_type"], "1 hour",
        checkpoint=os.path.join(work, "ckpt"), trigger_available_now=True,
    )
    q.awaitTermination()
    out = read_rollup(eng, "events_rollup", ["event_type"])
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd HH:00:00").alias("hour"),
        F.col("event_type").alias("etype"),
        F.col("cnt").alias("n"),
        F.round("sum", 2).alias("total"),
        F.round("avg", 4).alias("av"),
        "min",
        "max",
        F.round("var_pop", 2).alias("vp"),
    )


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup at the door (streaming/ingest.py::
    streaming_distinct_documents): a real streaming job keeps the first
    occurrence of each fingerprint across micro-batches; the oracle is
    batch COUNT(DISTINCT fingerprint)."""
    import uuid

    from modelardb_rs_spark.streaming.ingest import streaming_distinct_documents

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "documents.parquet")
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    stream_dir = os.path.join(
        cache_root("entry"), f"{key}_docstream"
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    deduped = streaming_distinct_documents(stream)
    name = f"sdedup_{uuid.uuid4().hex[:12]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # survivor identity within a batch is arbitrary among exact dups, so
    # the checksum uses only dedup-invariant quantities
    return spark.table(name).agg(
        F.count("*").alias("n_unique"),
        F.countDistinct("fingerprint").alias("n_fingerprints"),
        F.min("fingerprint").alias("min_fp"),
        F.max("fingerprint").alias("max_fp"),
    )


def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-style scalar subquery: orders above the global average
    price, counted per priority."""
    (orders,) = _prep(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_sq")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM __orders_sq
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM __orders_sq)
        GROUP BY o_orderpriority
        """
    )


def q_min_price_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subquery against the outer row's group (the TPC-H q2
    shape): parts priced at their brand's minimum."""
    (part,) = _prep(spark, sf_dir, "part")
    part.createOrReplaceTempView("__part_mp")
    return spark.sql(
        """
        SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price
        FROM __part_mp p
        WHERE p_retailprice = (SELECT min(p2.p_retailprice)
                               FROM __part_mp p2
                               WHERE p2.p_brand = p.p_brand)
        """
    )


def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7-flavor five-way join: revenue between customer-nation /
    supplier-nation pairs (dimensions broadcast, lineitem scans once)."""
    nation, cust, orders, li, supp = _prep(
        spark, sf_dir, "nation", "customer", "orders", "lineitem", "supplier"
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, cust.c_nationkey == F.col("c_nk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n2, supp.s_nationkey == F.col("s_nk"))
        .where(F.col("cust_nation") < F.col("supp_nation"))
    )
    return (
        j.groupBy("cust_nation", "supp_nation")
        .agg(F.round(F.sum(rev), 4).alias("volume"), F.count("*").alias("n_items"))
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily event counts, one column per event type."""
    (ev,) = _prep(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "day", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types]
        )
    )


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (every 2nd 4-byte frame)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    media = mm_ops.attach_fake_media(docs)
    frames = mm_ops.sample_frames(media, every_nth=2)
    return frames.agg(
        F.count("*").alias("n_frames"),
        F.countDistinct("media_id").alias("n_media"),
        F.sum("frame_idx").cast("long").alias("sum_idx"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark lacks one): each purchase
    picks up the user's most recent preceding click."""
    from modelardb_rs_spark.operators.asof import asof_join

    (ev,) = _prep(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("ts").alias("click_ts"))
    )
    joined = asof_join(purchases, clicks, on="ts", by=["user_id"], right_value_cols=["click_ts"])
    gap_us = F.unix_micros("ts") - F.unix_micros("click_ts_right")
    # exact integer sum / count instead of avg(): engines' incremental
    # avg accumulators differ in the last float digits
    return joined.agg(
        F.count("*").alias("n_purchases"),
        F.count("click_ts_right").alias("n_with_click"),
        F.round(F.sum(gap_us) / F.count("click_ts_right"), 2).alias("avg_gap_us"),
    )


def q_asof_hot_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key as-of variant (asof_join(hot_key_buckets=8) — the
    two-pass time-bucketed plan that parallelizes one dominating key
    across N tasks by seeding each time bucket with the previous
    buckets' last right row). Same computation as q_asof_join, same
    oracle: the two plans are value-identical by contract, and this
    entry pins that under the driver's gate."""
    from modelardb_rs_spark.operators.asof import asof_join

    (ev,) = _prep(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("ts").alias("click_ts"))
    )
    joined = asof_join(
        purchases, clicks, on="ts", by=["user_id"],
        right_value_cols=["click_ts"], hot_key_buckets=8,
    )
    gap_us = F.unix_micros("ts") - F.unix_micros("click_ts_right")
    return joined.agg(
        F.count("*").alias("n_purchases"),
        F.count("click_ts_right").alias("n_with_click"),
        F.round(F.sum(gap_us) / F.count("click_ts_right"), 2).alias("avg_gap_us"),
    )


def q_asof_auto_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-engaging hot-key policy (asof_join(
    hot_key_buckets="auto"): one exact key-histogram aggregate flips
    the two-pass plan on only when the largest key exceeds the
    measured rows/key crossover). The threshold is lowered here so the
    policy ENGAGES at this scale — the engaged plan must stay
    value-identical to the one-pass plan, so this entry shares
    q_asof_join's DuckDB native-ASOF oracle."""
    from modelardb_rs_spark.operators.asof import asof_join

    (ev,) = _prep(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("ts").alias("click_ts"))
    )
    joined = asof_join(
        purchases, clicks, on="ts", by=["user_id"],
        right_value_cols=["click_ts"],
        hot_key_buckets="auto", hot_key_threshold=2,
    )
    gap_us = F.unix_micros("ts") - F.unix_micros("click_ts_right")
    return joined.agg(
        F.count("*").alias("n_purchases"),
        F.count("click_ts_right").alias("n_with_click"),
        F.round(F.sum(gap_us) / F.count("click_ts_right"), 2).alias("avg_gap_us"),
    )


def q_asof_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF JOIN through the SQL surface (engine.read_sql → the
    parser-level rewrite in operators/asof.py::rewrite_asof_sql,
    DuckDB inequality-in-ON shape): per user, purchases matched to the
    most recent preceding click. The oracle is DuckDB's NATIVE ASOF
    JOIN — an independent engine's implementation of the same SQL
    semantics, not a re-derivation."""
    eng = _ts_engine(spark, sf_dir)
    (ev,) = _prep(spark, sf_dir, "events")
    ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    ).createOrReplaceTempView("asof_p")
    ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.unix_micros("ts").alias("c_us")
    ).createOrReplaceTempView("asof_c")
    return eng.read_sql(
        "SELECT p.user_id AS user_id, count(*) AS n_purchases, "
        "count(c.c_us) AS n_with_click, "
        "CAST(sum(p.ts_us - c.c_us) AS BIGINT) AS total_gap_us "
        "FROM asof_p p ASOF LEFT JOIN asof_c c "
        "ON p.user_id = c.cu AND p.ts_us >= c.c_us "
        "GROUP BY p.user_id ORDER BY user_id"
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators
# ---------------------------------------------------------------------------


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _prep(spark, sf_dir, "documents")
    fp = text_ops.fingerprint_documents(docs)
    return fp.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_distinct"),
        F.min("fingerprint").alias("min_fp"),
        F.max("fingerprint").alias("max_fp"),
    )


def doc_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _prep(spark, sf_dir, "documents")
    groups = dedup_ops.exact_duplicate_groups(docs)
    return groups.agg(
        F.coalesce(F.count("*"), F.lit(0)).alias("n_groups"),
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n_dup_docs"),
    )


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _prep(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_tokens", text_ops.token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-ish token counting (GPT-2 pre-tokenizer regex)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_bpe", text_ops.bpe_token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.sum("n_bpe").cast("long").alias("total_bpe"),
            F.round(F.avg("n_bpe"), 4).alias("avg_bpe"),
        )
    )


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width overlapped chunking (pre-tokenization windowing) —
    map-only sequence/posexplode/substring Column algebra."""
    (docs,) = _prep(spark, sf_dir, "documents")
    ch = text_ops.chunk_documents(docs, chunk_chars=256, overlap_chars=32)
    return ch.agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("chunk_len").cast("long").alias("total_chars"),
        F.max("chunk_idx").cast("long").alias("max_idx"),
    )


def doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic 10% corpus sample: stable across runs and
    partitionings, disjoint under different salts — the reproducible
    train/val split primitive."""
    (docs,) = _prep(spark, sf_dir, "documents")
    a = text_ops.deterministic_sample(docs, 10.0, salt="train")
    b = text_ops.deterministic_sample(docs, 10.0, salt="val")
    overlap = a.select("doc_id").join(b.select("doc_id"), "doc_id").count()
    return a.agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
        F.lit(overlap).cast("long").alias("salt_overlap_by_chance"),
    )


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement
    (operators/mixing.weighted_sample — Efraimidis & Spirakis 2006
    A-Res): rank by ln(u)/w with a md5-derived deterministic uniform,
    take the top k. Weighting by n_chars samples documents proportional
    to training mass; the oracle replays key and rank EXACTLY, so the
    selected set AND its order are value-checked. The selection plans
    as TakeOrderedAndProject (per-partition top-k, no global sort)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    out = mix_ops.weighted_sample(docs, 25, "n_chars", salt="w12")
    return out.select("sample_order", "doc_id", "n_chars")


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _prep(spark, sf_dir, "documents")
    q = text_ops.quality_features(docs)
    return q.groupBy("source").agg(
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        F.round(F.avg("punct_ratio"), 4).alias("avg_punct"),
        F.round(F.avg("stopword_ratio"), 4).alias("avg_stop"),
    )


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals
    (operators/text.py::repetition_features): the 20 most
    bigram-repetitive documents, exact oracle."""
    (docs,) = _prep(spark, sf_dir, "documents")
    rep = text_ops.repetition_features(docs)
    return (
        rep.orderBy(F.desc("top_bigram_frac"), F.asc("doc_id"))
        .limit(20)
        .select(
            "doc_id", "n_tokens", "dup_token_frac", "top_bigram",
            "top_bigram_n", "top_bigram_frac",
        )
    )


def doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms
    (operators/text.py::tfidf_top_terms) for the first 10 documents."""
    (docs,) = _prep(spark, sf_dir, "documents")
    out = text_ops.tfidf_top_terms(docs, k=3)
    return out.where(F.col("doc_id") < 10).select(
        "doc_id", "rank", "term", F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"), "score",
    )


def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (operators/profile.py::profile_table): per-column
    null/distinct/min/max in one aggregation over documents."""
    from modelardb_rs_spark.operators.profile import profile_table

    (docs,) = _prep(spark, sf_dir, "documents")
    return profile_table(docs, ["doc_id", "lang", "source", "n_chars"])


def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check (operators/dedup.py::
    ngram_contamination): 5-gram collisions between a deterministic 80%
    train split and the 20% eval split; 15 most contaminated eval docs."""
    (docs,) = _prep(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    ev = docs.where(F.col("doc_id") % 5 == 0)
    out = dedup_ops.ngram_contamination(train, ev, n=5)
    return out.orderBy(F.desc("contamination_frac"), F.asc("doc_id")).limit(15)


def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _prep(spark, sf_dir, "documents")
    return (
        text_ops.language_id(docs)
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _prep(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(docs, threshold=0.10, n=3)
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.coalesce(F.sum("jaccard"), F.lit(0.0)), 4).alias("sum_jaccard"),
        F.round(F.coalesce(F.max("jaccard"), F.lit(0.0)), 6).alias("max_jaccard"),
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: jaccard pairs → connected components
    (iterative label propagation, join-only)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(docs, threshold=0.10, n=3)
    clusters = dedup_ops.duplicate_clusters(pairs)
    return clusters.agg(
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.count("*").alias("n_clustered_docs"),
        F.sum("cluster_id").cast("long").alias("sum_cluster_ids"),
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _prep(spark, sf_dir, "documents")
    sigs = dedup_ops.minhash_signatures(docs, k=8, n=3)
    checksum = F.md5(F.concat_ws("|", *[f"h{i}" for i in range(8)]))
    return sigs.select(F.col("doc_id"), checksum.alias("sig")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("sig").alias("n_distinct_sigs"),
        F.min("sig").alias("min_sig"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _prep(spark, sf_dir, "documents")
    sh = dedup_ops.simhash(docs)
    return sh.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("simhash").alias("n_distinct"),
        # 60-bit signatures summed over a corpus overflow int64: checksum
        # a small modulus instead
        F.sum(F.col("simhash") % 1000003).cast("long").alias("sum_simhash"),
    )


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs. The banding is LOSSLESS at the
    Hamming cutoff (pigeonhole over max_hamming+1 bands), so the blocked
    plan must return exactly the pairs the oracle's all-pairs
    bit_count(xor) scan finds — the approximate-plan-vs-forced-exact
    oracle pattern (reference integration_test.rs:1129-1248)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    pairs = dedup_ops.simhash_near_pairs(docs, max_hamming=3)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("id_a", "id_b")


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash→LSH→verify pipeline, aggregate view (exact-oracle:
    DuckDB reproduces the md5 minhash bands and candidate verification)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    pairs = dedup_ops.minhash_dedup_pairs(docs, threshold=0.10, k=16, bands=8, n=3)
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.coalesce(F.max("jaccard"), F.lit(0.0)), 6).alias("max_jaccard"),
    )


def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-blocked verified pairs themselves: every (id_a, id_b,
    jaccard) the scale pipeline emits, hash-checked row-by-row against
    DuckDB's exact Jaccard restricted to the same LSH candidate set."""
    (docs,) = _prep(spark, sf_dir, "documents")
    return dedup_ops.minhash_dedup_pairs(docs, threshold=0.10, k=16, bands=8, n=3)


def dedup_sampled_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-in shingle-sampled LSH (shingle_keep_mod=4 keeps ~1/4 of
    shingles via a consistent xxhash64 residue cut) vs the unsampled
    pipeline: recall of the sampled pipeline's verified pairs against
    the unsampled verified pairs must clear 0.85 (measured 0.96 at
    sf0.01) — the recall-floor oracle pattern of sim_lsh_topk. Both
    pipelines verify candidates with FULL shingle sets, so precision
    is exact by construction; sampling trades candidate recall only."""
    (docs,) = _prep(spark, sf_dir, "documents")
    truth = dedup_ops.minhash_dedup_pairs(docs, threshold=0.10, k=16, bands=8, n=3).select(
        "id_a", "id_b", F.lit(1).alias("__t__")
    )
    sampled = dedup_ops.minhash_dedup_pairs(
        docs, threshold=0.10, k=16, bands=8, n=3, shingle_keep_mod=4
    ).select("id_a", "id_b", F.lit(1).alias("__s__"))
    both = truth.join(sampled, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.sum("__t__").alias("__nt__"),
        F.sum(F.when(F.col("__t__").isNotNull() & F.col("__s__").isNotNull(), 1)).alias("__nh__"),
    ).select(
        (F.coalesce(F.col("__nt__"), F.lit(0)) > 0).cast("long").alias("truth_nonempty"),
        (
            F.coalesce(F.col("__nh__"), F.lit(0))
            >= F.lit(0.85) * F.coalesce(F.col("__nt__"), F.lit(0))
        ).cast("long").alias("recall_ok"),
    )


def dedup_capped_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate generation under the bucket-size cap
    (dedup.lsh_candidate_pairs(max_bucket=)): buckets holding more than
    the cap are pruned BEFORE the candidate self-join — the structural
    guard against degenerate-bucket quadratic blowup measured in
    SCALE.md "Round-7" (sampled signatures at 4M docs overflowed the
    candidate shuffle). The oracle reproduces the banding AND the cap
    in SQL; the uncapped count rides along so the row also proves the
    cap pruned something real when buckets exceed it."""
    (docs,) = _prep(spark, sf_dir, "documents")
    sigs = dedup_ops.minhash_signatures(docs, k=16, n=3)
    capped = dedup_ops.lsh_candidate_pairs(sigs, bands=8, max_bucket=4)
    uncapped = dedup_ops.lsh_candidate_pairs(sigs, bands=8)
    # auto rule: cap = max(floor, mult x median bucket size) — sized
    # from the data, with the oracle recomputing the same rule
    auto = dedup_ops.lsh_candidate_pairs(
        sigs, bands=8, max_bucket="auto", auto_cap_floor=4, auto_cap_median_mult=2
    )
    a = capped.agg(
        F.count("*").alias("n_capped"),
        F.coalesce(F.sum(F.col("id_a") + F.col("id_b")), F.lit(0))
        .cast("long")
        .alias("sum_capped_ids"),
    )
    b = uncapped.agg(F.count("*").alias("n_uncapped"))
    c = auto.agg(F.count("*").alias("n_auto_capped"))
    return a.crossJoin(b).crossJoin(c)


def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's end product (operators/dedup.py::
    deduplicate_corpus): the corpus minus near-duplicates — LSH-blocked
    verified pairs, connected components, keep each cluster's minimum
    id. Checksummed; the oracle reproduces the full pipeline in SQL."""
    (docs,) = _prep(spark, sf_dir, "documents")
    out = dedup_ops.deduplicate_corpus(docs, threshold=0.10, k=16, bands=8, n=3)
    return out.agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = _prep(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim_ops.brute_force_topk(emb, queries, k=5)


def sim_threshold_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = _prep(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") < 100)
    pairs = sim_ops.cosine_threshold_pairs(a, emb, threshold=0.8)
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.coalesce(F.sum("cos"), F.lit(0.0)), 4).alias("sum_cos"),
    )


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection, corpus×corpus via
    sign-LSH blocking + exact-cosine verification (no broadcast, no
    all-pairs join — operators/similarity.py::embedding_near_dup_pairs).
    The corpus is the embeddings table plus a deterministic near-dup for
    every 10th vector (a positively-scaled copy: cosine exactly 1, and
    scaling preserves every sign-LSH bit, so the TRUE pair set is known
    in closed form and the oracle checks the exact pairs, not a recall
    floor; the data's own max pairwise cosine is ~0.51, far below the
    threshold)."""
    (emb,) = _prep(spark, sf_dir, "embeddings")
    dups = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.5)).alias("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(dups)
    # tables=4 halves the banded candidate volume (signatures are one
    # numpy matmul per batch since round 9, so table count is now a
    # candidate-volume knob, not an expression-size one): recall of the
    # planted pairs is exact under ANY table count — positive scaling
    # preserves every sign bit, so each copy shares all buckets with
    # its original in every table.
    pairs = sim_ops.embedding_near_dup_pairs(corpus, threshold=0.999, tables=4)
    return pairs.select("id_a", "id_b").orderBy("id_a", "id_b")


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k over the table's `label` buckets —
    the whole probe pipeline (centroids → nprobe selection → bucket-join
    ranking) is deterministic, so DuckDB reproduces it exactly."""
    (emb,) = _prep(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim_ops.ivf_topk(emb, queries, k=5, nprobe=2)


def _recall_summary(
    exact: DataFrame, approx: DataFrame, min_floor: float | None, avg_floor: float
) -> DataFrame:
    """recall@k of `approx` against the brute-force `exact` top-k, folded
    to deterministic floor indicators the driver can hash-check."""
    e = exact.select("query_id", "neighbor_id")
    hits = (
        e.join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    totals = e.groupBy("query_id").agg(F.count("*").alias("tot"))
    recall = totals.join(hits, "query_id", "left").select(
        "query_id",
        (F.coalesce(F.col("hits"), F.lit(0)) / F.col("tot")).alias("recall"),
    )
    aggs = [F.count("*").alias("n_queries"),
            (F.avg("recall") >= avg_floor).cast("long").alias("avg_recall_ok")]
    if min_floor is not None:
        aggs.append((F.min("recall") >= min_floor).cast("long").alias("min_recall_ok"))
    return recall.agg(*aggs)


def sim_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a k-means-trained coarse quantizer (the seeded numpy
    fit, ``numpy_kmeans_buckets``): recall@5 vs brute force must clear
    a floor (seeded index build + probe)."""
    (emb,) = _prep(spark, sf_dir, "embeddings")
    bucketed = sim_ops.numpy_kmeans_buckets(emb, k=8)[0]
    queries = bucketed.where(F.col("vec_id") < 10)
    approx = sim_ops.ivf_topk(bucketed, queries, k=5, nprobe=3, bucket_col="ivf_bucket")
    exact = sim_ops.brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=5)
    return _recall_summary(exact, approx, min_floor=None, avg_floor=0.4)


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization ANN (operators/pq.py — the public
    Jegou/Douze/Schmid construction, FAISS IndexPQ shape): 16x4-bit
    codes per 64-dim vector (32x compression), ADC scoring over code
    columns only, exact re-rank of a 50-candidate shortlist. Seeded
    training + deterministic argmin make recall reproducible; floors
    verified against brute force."""
    from modelardb_rs_spark.operators import pq as pq_ops

    (emb,) = _prep(spark, sf_dir, "embeddings")
    books = pq_ops.train_pq_codebooks(emb, m=16, ks=16)
    enc = pq_ops.encode_pq(emb, books)
    queries = emb.where(F.col("vec_id") < 10)
    approx = pq_ops.pq_topk(enc, books, queries, k=5, rerank=50)
    exact = sim_ops.brute_force_topk(emb, queries, k=5)
    return _recall_summary(exact, approx, min_floor=0.4, avg_floor=0.75)


def sim_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimized product quantization (operators/pq.py train_opq — Ge
    et al. CVPR 2013, the FAISS OPQMatrix shape): a learned orthonormal
    rotation redistributes variance across PQ subspaces before the same
    16x4-bit encode, cutting quantization error at the SAME code budget
    (measured 2.25x MSE on anisotropic data — SCALE.md). Orthonormal R
    preserves inner products, so the unchanged ADC stack still scores
    the original cosine; floors vs brute force, same construction as
    sim_pq_topk."""
    from modelardb_rs_spark.operators import pq as pq_ops

    (emb,) = _prep(spark, sf_dir, "embeddings")
    R, books = pq_ops.train_opq(emb, m=16, ks=16)
    enc = pq_ops.encode_pq(emb, books, rotate=R)
    queries = emb.where(F.col("vec_id") < 10)
    approx = pq_ops.pq_topk(enc, books, queries, k=5, rerank=50, rotate=R)
    exact = sim_ops.brute_force_topk(emb, queries, k=5)
    return _recall_summary(exact, approx, min_floor=0.4, avg_floor=0.75)


def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal marginal relevance diversity re-rank
    (operators/similarity.mmr_rerank — Carbonell & Goldstein SIGIR
    1998): greedy selection of 5 from each query's 20-candidate pool
    maximizing lam*rel - (1-lam)*max_sim_to_selected, the standard
    guard against near-duplicates crowding a retrieval list. The oracle
    replays the greedy loop EXACTLY as five unrolled SQL selection
    steps (same rounding, same smallest-id tie rule, same float64
    coefficients), so selection order is value-checked, not just
    floor-checked."""
    (emb,) = _prep(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    cands = sim_ops.brute_force_topk(emb, queries, k=20)
    return sim_ops.mmr_rerank(cands, emb, k=5, lam=0.7)


def _mmr_oracle_sql(k: int = 5, pool: int = 20, lam: float = 0.7) -> str:
    """The DuckDB mirror of sim_mmr_rerank: greedy MMR unrolled into
    ``k`` chained selection CTEs. Coefficients are emitted with full
    float64 repr so 1-lam matches Spark's binary value bit-for-bit."""
    lam_s, dis_s = repr(float(lam)), repr(1.0 - float(lam))
    cte = [f"""
        v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
              FROM embeddings),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM v WHERE vec_id < 10),
        scored AS (
            SELECT query_id, c.vec_id AS neighbor_id,
                   round(list_dot_product(qv, c.ev) /
                         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.ev, c.ev))), 6) AS rel
            FROM q CROSS JOIN v c WHERE c.vec_id <> query_id
        ),
        pool AS (
            SELECT query_id, neighbor_id, rel FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
                FROM scored) WHERE rn <= {pool}
        ),
        sims AS (
            SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib,
                   round(list_dot_product(va.ev, vb.ev) /
                         (sqrt(list_dot_product(va.ev, va.ev)) * sqrt(list_dot_product(vb.ev, vb.ev))), 6) AS sim
            FROM pool a JOIN pool b ON a.query_id = b.query_id
            JOIN v va ON va.vec_id = a.neighbor_id
            JOIN v vb ON vb.vec_id = b.neighbor_id
        ),
        sel1 AS (
            SELECT query_id, neighbor_id, 1 AS mmr_rank FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY {lam_s} * rel DESC, neighbor_id) AS r
                FROM pool) WHERE r = 1
        )"""]
    for t in range(2, k + 1):
        cte.append(f"""
        m{t} AS (
            SELECT p.query_id, p.neighbor_id, p.rel, max(s.sim) AS ms
            FROM pool p
            JOIN sel{t - 1} d ON d.query_id = p.query_id
            JOIN sims s ON s.query_id = p.query_id
                       AND s.ia = p.neighbor_id AND s.ib = d.neighbor_id
            WHERE NOT EXISTS (SELECT 1 FROM sel{t - 1} x
                              WHERE x.query_id = p.query_id
                                AND x.neighbor_id = p.neighbor_id)
            GROUP BY p.query_id, p.neighbor_id, p.rel
        ),
        sel{t} AS (
            SELECT * FROM sel{t - 1}
            UNION ALL
            SELECT query_id, neighbor_id, {t} AS mmr_rank FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY {lam_s} * rel - {dis_s} * ms DESC, neighbor_id) AS r
                FROM m{t}) WHERE r = 1
        )""")
    return (
        "WITH" + ",".join(cte)
        + f"\n        SELECT query_id, neighbor_id, CAST(mmr_rank AS INTEGER) AS mmr_rank FROM sel{k}"
    )


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane LSH: recall@5 vs brute force must
    clear floors (seeded hyperplanes make the pipeline deterministic)."""
    (emb,) = _prep(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    approx = sim_ops.lsh_topk(emb, queries, k=5)
    exact = sim_ops.brute_force_topk(emb, queries, k=5)
    return _recall_summary(exact, approx, min_floor=0.2, avg_floor=0.5)


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _prep(spark, sf_dir, "documents")
    media = mm_ops.attach_fake_media(docs)
    return media.agg(
        F.count("*").alias("n_media"),
        F.sum(F.col("width").cast("long")).alias("sum_width"),
        F.sum(F.col("height").cast("long")).alias("sum_height"),
        F.sum(F.octet_length("payload").cast("long")).alias("sum_bytes"),
    )


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor media resize through the codec registry
    (operators/multimodal.py::resize_media): decoded samples viewed as
    a (height, width) raster, resized to 4×4 — the resize step of an
    image-preprocessing pipeline, map-only Arrow-batched. Exact oracle:
    every output pixel."""
    (docs,) = _prep(spark, sf_dir, "documents")
    media = mm_ops.attach_fake_media(docs)
    out = mm_ops.resize_media(media)
    return out.select("media_id", F.posexplode("pixels").alias("p", "pixel"))


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (fake codec;
    rows-only driver check)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    media = mm_ops.attach_fake_media(docs)
    feats = mm_ops.extract_features(media, fake_codec=True)
    return feats.agg(
        F.count("*").alias("n"),
        F.round(F.avg("mean_byte"), 4).alias("avg_mean_byte"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
    )


def _pii_corpus(docs: DataFrame) -> DataFrame:
    """The synthetic documents carry no PII, so every third doc gets a
    deterministic PII suffix (email, ipv4, ssn) derived from its own id
    — reproduced verbatim in the DuckDB oracle."""
    suffix = F.concat(
        F.lit(" reach user"), F.col("doc_id"), F.lit("@"), F.col("source"),
        F.lit(".org or 10."), (F.col("doc_id") % 256), F.lit(".0."),
        (F.col("doc_id") % 100), F.lit(" ssn 123-45-6789"),
    )
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), suffix)).otherwise(
            F.col("text")
        ),
    )


def doc_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection (operators/pii.py): per-language span totals over a
    corpus with deterministically planted PII."""
    (docs,) = _prep(spark, sf_dir, "documents")
    counts = pii_ops.pii_counts(_pii_corpus(docs))
    return (
        counts.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_email").cast("long").alias("emails"),
            F.sum("n_ipv4").cast("long").alias("ipv4s"),
            F.sum("n_ssn").cast("long").alias("ssns"),
            F.sum(F.when(F.col("n_pii") > 0, 1).otherwise(0)).cast("long").alias("docs_with_pii"),
        )
    )


def doc_pii_redacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction round trip: after redact_documents the corpus must
    contain zero detectable PII spans, and the size delta equals the
    spans' characters minus the placeholders'."""
    (docs,) = _prep(spark, sf_dir, "documents")
    planted = _pii_corpus(docs)
    red = pii_ops.redact_documents(planted)
    residual = pii_ops.pii_counts(red)
    return residual.join(
        red.select("doc_id", F.length("text").alias("n_chars_redacted")), "doc_id"
    ).agg(
        F.sum("n_pii").cast("long").alias("residual_pii"),
        F.sum("n_chars_redacted").cast("long").alias("total_chars"),
    )


def _lined_corpus(docs: DataFrame) -> DataFrame:
    """Multi-line corpus for the line-dedup operators: every doc gets a
    shared header, a unique-ish preview line, a blank line, its body,
    and a per-language footer."""
    return docs.withColumn(
        "text",
        F.concat(
            F.lit("SHARED HEADER\n"),
            F.substring(F.col("text"), 1, 40),
            F.lit("\n\n"),
            F.col("text"),
            F.lit("\nfooter "),
            F.col("lang"),
        ),
    )


def doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate line removal (operators/lines.py,
    C4/RefinedWeb-style): lines in ≥2 distinct docs are dropped, order
    and blank lines preserved; per-language reconstruction totals."""
    (docs,) = _prep(spark, sf_dir, "documents")
    cleaned = line_ops.remove_common_lines(_lined_corpus(docs), min_docs=2)
    return (
        cleaned.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_lines_kept").cast("long").alias("lines_kept"),
            F.sum("n_lines_removed").cast("long").alias("lines_removed"),
            F.sum(F.length("text")).cast("long").alias("chars_kept"),
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer in a
    quarter, top 20 — 4-way join with broadcast nation, single shuffle
    aggregate on the customer key."""
    nation, cust, orders, li = _prep(
        spark, sf_dir, "nation", "customer", "orders", "lineitem"
    )
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-04-01"))
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        # prices/discounts are 2-decimal: integer cents arithmetic makes
        # the revenue sum exact and engine/order-independent (a plain
        # float sum flips the last rounded digit between engines)
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                    * (100 - F.round(F.col("l_discount") * 100, 0).cast("long"))
                )
                / F.lit(10000.0)
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name", "revenue",
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity clears a threshold,
    with their customers — aggregate-then-semi-join keeps the big table
    scanned once."""
    cust, orders, li = _prep(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 210)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
    )


def q_interp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation join (operators/asof.py::interpolation_join,
    the Timescale `interpolate` analog to the LOCF as-of join): a 6-hour
    probe spine per event type reads each series' value interpolated
    between its bracketing events."""
    (ev,) = _prep(spark, sf_dir, "events")
    # unique (etype, t): concurrent events average so brackets are
    # deterministic on both engines
    right = (
        ev.select(
            F.col("event_type").alias("etype"),
            F.unix_micros("ts").alias("t"),
            F.col("value").alias("v"),
        )
        .groupBy("etype", "t")
        .agg(F.avg("v").alias("v"))
    )
    start_us = 1_704_153_600_000_000  # 2024-01-02T00:00Z
    step_us = 21_600_000_000  # 6 hours
    spine = (
        ev.select(F.col("event_type").alias("etype"))
        .distinct()
        .crossJoin(
            spark.range(112).select((F.lit(start_us) + F.col("id") * step_us).alias("t"))
        )
    )
    out = asof_ops.interpolation_join(spine, right, "t", ["etype"], ["v"])
    return out.groupBy("etype").agg(
        F.count("v_interp").cast("long").alias("n_interp"),
        F.round(F.sum("v_interp"), 2).alias("total"),
    )


def ts_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range retention (Engine.expire / DELETE FROM ... WHERE
    timestamp < X): ingest events into a fresh store, expire the first
    week, and read the survivors back gridded — whole-file expiry is
    metadata-only, straddling segments re-encode lossless
    (operators/retention.py)."""
    eng = Engine(spark, tempfile.mkdtemp(prefix="sparkmodelar_retain_"))
    eng.read_sql(
        "CREATE TIME SERIES TABLE ts_ret(timestamp TIMESTAMP, value FIELD, etype TAG)"
    )
    (events,) = _prep(spark, sf_dir, "events")
    eng.write(
        "ts_ret",
        events.select(
            F.col("ts").alias("timestamp"),
            F.col("value").cast("float").alias("value"),
            F.col("event_type").alias("etype"),
        ),
    )
    eng.read_sql("DELETE FROM ts_ret WHERE timestamp < TIMESTAMP '2024-01-08'")
    return eng.read_sql(
        "SELECT etype, count(value) AS n, round(sum(value), 2) AS total, "
        "min(value) AS mn FROM ts_ret WHERE timestamp >= timestamp '1970-01-01' "
        "GROUP BY etype"
    )


def ts_rollup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate + retention policy (Engine.downsample_expire):
    events older than Jan 15 are rolled into daily buckets and expired
    from the raw store; the query reads both resolutions side by side
    and must exactly account for every original point."""
    eng = Engine(spark, tempfile.mkdtemp(prefix="sparkmodelar_policy_"))
    eng.read_sql(
        "CREATE TIME SERIES TABLE ts_pol(timestamp TIMESTAMP, value FIELD, etype TAG)"
    )
    (events,) = _prep(spark, sf_dir, "events")
    eng.write(
        "ts_pol",
        events.select(
            F.col("ts").alias("timestamp"),
            F.col("value").cast("float").alias("value"),
            F.col("event_type").alias("etype"),
        ),
    )
    eng.downsample_expire(
        "ts_pol", "pol_daily", "1 day", {"value": ["count", "sum"]}, "2024-01-15"
    )
    rolled = (
        eng.table("pol_daily")
        .groupBy("etype")
        .agg(
            F.sum("count_value").cast("long").alias("n_old"),
            F.round(F.sum("sum_value"), 2).alias("old_total"),
        )
    )
    raw = eng.read_sql(
        "SELECT etype, count(value) AS n_new, round(sum(value), 2) AS new_total "
        "FROM ts_pol GROUP BY etype"
    )
    return rolled.join(raw, "etype")


def doc_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus cleaning — the composed production shape:
    boilerplate line removal → PII redaction → duplicated-span removal
    → minimum-length quality gate, each stage feeding the next's text.
    The oracle reproduces the ENTIRE chain in one SQL statement and the
    final text is md5-pinned per document — any drift in any stage, or
    in how the stages compose, breaks the hash."""
    from pyspark import StorageLevel

    from modelardb_rs_spark.operators.spans import remove_duplicated_spans

    (docs,) = _prep(spark, sf_dir, "documents")
    staged = _pii_corpus(_lined_corpus(docs))
    lined = line_ops.remove_common_lines(staged, min_docs=2)
    # Persist the redacted corpus (two thin columns): the span stage
    # references its input THREE times (two gram-occurrence branches +
    # the token rebuild), so without the cache the whole lined->pii
    # chain — including the collect_list line rebuild — executed three
    # times per action (14 parquet scans in
    # plans/r13/doc_clean_pipeline_before.txt). Same
    # persist-the-thin-columns discipline as the doc_train chains.
    # The span operator's internal occ duplication stays: re-running a
    # map-only tokenize over cached text beats writing a corpus-sized
    # occ copy to storage at scale (A/B: 3.51 vs 3.76 s at sf0.1 —
    # inside noise, and strictly worse on storage).
    red = pii_ops.redact_documents(lined).select("doc_id", "text").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cleaned = remove_duplicated_spans(red, span=10, min_dups=2)
    kept = cleaned.where(F.col("n_tokens_kept") >= 30)
    return kept.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        F.md5("text").alias("text_md5"),
        F.col("n_tokens_kept").cast("long").alias("n_tokens"),
    )


def doc_span_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span REMOVAL (operators/spans.py::remove_duplicated_spans): the
    corpus rebuilt without duplicated passages. The oracle pins the
    rebuilt text byte-for-byte (md5) plus kept/removed token counts —
    one row per input document."""
    from modelardb_rs_spark.operators.spans import remove_duplicated_spans

    (docs,) = _prep(spark, sf_dir, "documents")
    out = remove_duplicated_spans(docs, span=10, min_dups=2)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.col("n_tokens_kept").cast("long").alias("n_tokens_kept"),
        F.col("n_tokens_removed").cast("long").alias("n_tokens_removed"),
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval overlap join (operators/interval.py):
    duration intervals derived from events (length = value seconds),
    even vs odd user_ids, exactly-once pair emission via anchor-bucket
    attribution — the plan is a hash equi-join on the bucket key, never
    the O(n·m) broadcast-nested-loop Spark would pick for a raw range
    predicate. Oracle: the naive theta join aggregated identically."""
    from modelardb_rs_spark.operators.interval import interval_join

    (events,) = _prep(spark, sf_dir, "events")
    iv = events.select(
        "event_id",
        "user_id",
        F.col("event_type").alias("etype"),
        F.unix_micros("ts").alias("start_us"),
        (
            F.unix_micros("ts") + F.floor(F.col("value") * 1_000_000).cast("long") + 1
        ).alias("end_us"),
    )
    left = iv.where(F.col("user_id") % 2 == 0)
    right = iv.where(F.col("user_id") % 2 == 1)
    pairs = interval_join(left, right, bucket_width_us=3_600_000_000)
    return pairs.groupBy(
        F.col("etype").alias("l_etype"), F.col("r_etype")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("event_id") + F.col("r_event_id")).alias("id_sum"),
    )


def doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (operators/spans.py::duplicated_spans —
    the suffix-array-span / Dolma-paragraph analog): merged token
    intervals covered by any 10-gram occurring in >= 2 distinct
    documents. Exact oracle: the full (doc, span) table."""
    from modelardb_rs_spark.operators.spans import duplicated_spans

    (docs,) = _prep(spark, sf_dir, "documents")
    return duplicated_spans(docs, span=10, min_dups=2)


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training (operators/packing.py::
    pack_documents — the GPT concat-and-chunk shape): documents laid
    end-to-end in ascending-id order, token stream cut into 512-token
    sequences, one row per (document, sequence) overlap. The global
    token offset is a two-pass distributed prefix sum (range partition
    → per-partition totals → broadcast base offsets), never a
    single-partition window. Exact oracle: the full overlap table."""
    from modelardb_rs_spark.operators.packing import pack_documents

    (docs,) = _prep(spark, sf_dir, "documents")
    return pack_documents(docs, 512)


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sampling (operators/packing.py::
    stratified_sample): hash-deterministic keep rates per stratum —
    the language-rebalancing step of a pre-training mix. Map-only,
    reproducible across engines (exact oracle)."""
    from modelardb_rs_spark.operators.packing import stratified_sample

    (docs,) = _prep(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, {"en": 0.5, "de": 1.0}, "lang", default_rate=0.25, salt="mix"
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
        F.min("doc_id").alias("first_id"),
    )


def doc_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM quality scoring (operators/text.py::
    unigram_lm_scores — the CCNet-perplexity-filter analog): per-language
    mean token log-probability."""
    (docs,) = _prep(spark, sf_dir, "documents")
    scores = text_ops.unigram_lm_scores(docs)
    return (
        scores.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("avg_logprob"), 4).alias("avg_logprob"),
        )
    )


def dedup_index_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted near-dup index (operators/dedup_index.py): even-id docs
    become the kept corpus' signature index; odd-id docs are checked
    against it — corpus-vs-batch dedup without re-reading corpus text."""
    from modelardb_rs_spark.operators import dedup_index as ndi_ops

    (docs,) = _prep(spark, sf_dir, "documents")
    eng = Engine(spark, tempfile.mkdtemp(prefix="sparkmodelar_ndi_"))
    ndi_ops.build_minhash_index(eng, "ndi", docs.where(F.col("doc_id") % 2 == 0))
    hits = ndi_ops.near_dup_check(
        eng, "ndi", docs.where(F.col("doc_id") % 2 == 1), min_est_jaccard=0.5
    )
    return hits.agg(
        F.count("*").cast("long").alias("n_hits"),
        F.count_distinct("doc_id").cast("long").alias("n_new_docs_matched"),
        F.round(F.sum("est_jaccard"), 4).alias("est_total"),
    )


def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training quality gate
    (operators/filtering.py): token floor + language allowlist + zero
    PII over the planted corpus, reported as the per-rule rejection
    histogram every pipeline owner tunes against."""
    from modelardb_rs_spark.operators.filtering import FilterPolicy, rejection_stats

    (docs,) = _prep(spark, sf_dir, "documents")
    planted = _pii_corpus(docs)
    policy = FilterPolicy(min_tokens=60, languages=("en", "de"), max_pii=0)
    return rejection_stats(planted, policy)


def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series lag-1 autocorrelation on daily buckets
    (Engine.autocorrelate): does yesterday predict today, per event
    type. Bucket means come from the resample pushdown."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.autocorrelate("ts_events", "value", every="1 day", lag=1)
    return out.select(
        "series", "n_pairs", F.round("autocorr", 4).alias("autocorr")
    )


def doc_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table, top 20 (operators/ngrams.py) —
    the vocab-build/audit statistic; occurrences not distinct-per-doc."""
    from modelardb_rs_spark.operators.ngrams import top_ngrams

    (docs,) = _prep(spark, sf_dir, "documents")
    out = top_ngrams(docs, n=2, k=20)
    return out.select(
        "ngram",
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def doc_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval prep (operators/rag.py): chunk the corpus,
    embed every chunk (deterministic stub encoder), persist the IVF
    index, and probe it with three query texts — the full
    chunk→embed→index→search composition, value-checked cross-engine."""
    from modelardb_rs_spark.operators import rag as rag_ops

    (docs,) = _prep(spark, sf_dir, "documents")
    eng = Engine(spark, tempfile.mkdtemp(prefix="sparkmodelar_rag_"))
    rag_ops.build_rag_index(eng, "rag", docs)
    queries = docs.where(F.col("doc_id").isin(10, 20, 30)).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 100).alias("query_text"),
    )
    return rag_ops.rag_search(eng, "rag", queries, k=5, nprobe=2)


def ts_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal anomaly detection (Engine.seasonal_anomalies):
    hourly bucket means flagged against the same hour on other days;
    per-series anomaly counts."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.seasonal_anomalies("ts_events", "value", every="1 hour", z=2.5)
    return out.groupBy("etype").agg(
        F.count("*").cast("long").alias("n_anomalies"),
        F.round(F.sum(F.abs(F.col("zscore"))), 2).alias("z_mass"),
    )


def ts_periodicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant periodicity per series (Engine.periodicity): single-bin
    DFT power at candidate periods, pure Column algebra over hourly
    resample means."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.periodicity("ts_events", "value", every="1 hour")
    return out.select(
        F.col("series").alias("etype"),
        (F.col("period_us") / 3_600_000_000).cast("long").alias("period_hours"),
        "n",
        F.round("power", 4).alias("power"),
    )


def ts_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series linear trend over daily bucket means: OLS slope (per
    day), intercept, and R² via Spark's built-in regression aggregates
    over the resample pushdown output — the 'is this sensor drifting'
    read."""
    eng = _ts_engine(spark, sf_dir)
    res = eng.resample("ts_events", "1 day", {"value": "avg"}, group_by=["etype"])
    day = (F.unix_micros("bucket") / F.lit(86_400_000_000.0)).alias("x")
    return (
        res.select("etype", day, F.col("avg_value").alias("y"))
        .groupBy("etype")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.round(F.expr("regr_slope(y, x)"), 6).alias("slope_per_day"),
            F.round(F.expr("regr_intercept(y, x)"), 4).alias("intercept"),
            F.round(F.expr("regr_r2(y, x)"), 6).alias("r2"),
        )
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a field out of the events JSON
    props column (JVM-side get_json_object) and aggregate — the log
    enrichment shape."""
    (ev,) = _prep(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").cast("long").alias("n"),
            F.sum("k").cast("long").alias("total_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel: users who did A then (later) B then (later) C —
    classic product-analytics sequence matching via per-user min-time
    chaining (one aggregation, no self-joins over the event log)."""
    (ev,) = _prep(spark, sf_dir, "events")
    types = [r[0] for r in ev.select("event_type").distinct().orderBy("event_type").collect()]
    a, b, c = types[0], types[1], types[2]
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == a, F.col("ts"))).alias("ta"),
        F.count(F.when(F.col("event_type") == a, 1)).alias("na"),
    )
    tb = (
        ev.join(per_user.select("user_id", "ta"), "user_id")
        .where((F.col("event_type") == b) & (F.col("ts") > F.col("ta")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tb"))
    )
    tc = (
        ev.join(tb, "user_id")
        .where((F.col("event_type") == c) & (F.col("ts") > F.col("tb")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    return (
        per_user.where(F.col("na") > 0)
        .agg(F.count("*").cast("long").alias("did_a"))
        .crossJoin(tb.agg(F.count("*").cast("long").alias("then_b")))
        .crossJoin(tc.agg(F.count("*").cast("long").alias("then_c")))
    )


def sim_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ANN index (operators/ann_index.py): build the IVF index
    ONCE per (process, sf_dir) as partitioned engine tables, then probe
    it — results are value-identical to the inline pipeline (same
    oracle), but the scan touches only the probed buckets' files
    (partition pruning, plan-asserted in tests/test_ann_index.py).
    Caching the build mirrors the serving reality: the index is built
    once and amortized over every probe."""
    import fcntl

    (emb,) = _prep(spark, sf_dir, "embeddings")
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(cache_root("annidx"), f"{key}_v1")
    os.makedirs(root, exist_ok=True)
    marker = os.path.join(root, ".build_done")
    with open(os.path.join(root, ".build_lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        eng = _cached_engine(spark, root)
        if not os.path.exists(marker):
            ann_ops.build_ivf_index(eng, "emb_idx", emb, bucket_col="label")
            with open(marker, "w") as m:
                m.write("ok")
    queries = emb.where(F.col("vec_id") < 10)
    return ann_ops.ivf_index_topk(eng, "emb_idx", queries, k=5, nprobe=2)


def sim_ingest_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online SemDeDup admission gate (operators/ann_index.py::
    semantic_dedup_check): a batch of incoming vectors probes the
    persisted IVF index (one snapshot-atomic probe, nprobe bucket
    slices — no corpus scan) and rows whose best indexed cosine clears
    the threshold are flagged with their duplicate's id. The batch here
    mixes exact copies of indexed vectors (new ids — must flag, cos 1)
    with negated vectors (cosine -1 to their source — must pass as
    unique). Reuses sim_ivf_index's cached label-bucketed index; the
    oracle replays the label-centroid probe and the top-1 flag rule in
    closed form."""
    import fcntl

    (emb,) = _prep(spark, sf_dir, "embeddings")
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(cache_root("annidx"), f"{key}_v1")
    os.makedirs(root, exist_ok=True)
    marker = os.path.join(root, ".build_done")
    with open(os.path.join(root, ".build_lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        eng = _cached_engine(spark, root)
        if not os.path.exists(marker):
            ann_ops.build_ivf_index(eng, "emb_idx", emb, bucket_col="label")
            with open(marker, "w") as m:
                m.write("ok")
    copies = emb.where(F.col("vec_id") % 97 == 0).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding"
    )
    negated = emb.where(F.col("vec_id") % 101 == 0).select(
        (F.col("vec_id") + 950_000).alias("vec_id"),
        F.transform("embedding", lambda x: (-x).cast("float")).alias("embedding"),
    )
    checked = ann_ops.semantic_dedup_check(
        eng, "emb_idx", copies.unionByName(negated), threshold=0.999, nprobe=2
    )
    return checked.select("vec_id", "dup_of", "dup_cos").orderBy("vec_id")


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition over the persisted index (the FAISS IndexIVFPQ
    shape, Jegou/Douze/Schmid TPAMI 2011 SV): coarse-assign vectors to
    IVF buckets, product-quantize the RESIDUALS, and answer queries by
    ADC-scanning ONLY the nprobe probed buckets (planning-time partition
    pruning drops every other bucket; plan-asserted in tests/test_ann_
    index.py), then exact re-rank of a 50-candidate shortlist from the
    SAME scan's raw vectors (column pruning drops them only without
    rerank; the one-scan plan is asserted in tests/test_plans.py). The
    flat pq_topk scan shrinks by n_buckets/nprobe. Seeded build; recall
    floors vs brute force."""
    import fcntl

    (emb,) = _prep(spark, sf_dir, "embeddings")
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(cache_root("annidx"), f"{key}_v1")
    os.makedirs(root, exist_ok=True)
    marker = os.path.join(root, ".pq_kmeans_build_done")
    with open(os.path.join(root, ".build_lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        eng = _cached_engine(spark, root)
        if not os.path.exists(marker):
            ann_ops.build_ivfpq_index(
                eng, "emb_pq_idx", emb, bucket_col=None, n_buckets=8, m=8, ks=16
            )
            with open(marker, "w") as mk:
                mk.write("ok")
    queries = emb.where(F.col("vec_id") < 10)
    approx = ann_ops.ivfpq_topk(eng, "emb_pq_idx", queries, k=5, nprobe=3, rerank=50)
    exact = sim_ops.brute_force_topk(emb, queries, k=5)
    # floors mirror sim_ivf_trained: recall here is governed by the
    # coarse probing (nprobe/n_buckets), not the PQ codes — the exact
    # re-rank recovers near-exact ranking WITHIN the probed buckets
    return _recall_summary(exact, approx, min_floor=None, avg_floor=0.4)


def sim_ivfpq_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF-PQ index with an OPQ rotation
    (build_ivfpq_index(opq=True) — Ge et al. CVPR 2013): residuals are
    quantized in a learned rotated space at the same code budget, the
    rotation persists as subspace=-1 pqbooks rows, and ivfpq_topk picks
    it up automatically (the LUT reads q @ R, the bucket scalar stays
    raw — q.(c_b + r) = q.c_b + (qR).(rR)). Same recall floors as
    sim_ivfpq_topk: at these settings recall is governed by coarse
    probing; the rotation's win is quantization error per byte
    (SCALE.md)."""
    import fcntl

    (emb,) = _prep(spark, sf_dir, "embeddings")
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(cache_root("annidx"), f"{key}_opq_v1")
    os.makedirs(root, exist_ok=True)
    marker = os.path.join(root, ".opq_build_done")
    with open(os.path.join(root, ".build_lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        eng = _cached_engine(spark, root)
        if not os.path.exists(marker):
            ann_ops.build_ivfpq_index(
                eng, "emb_opq_idx", emb, bucket_col=None, n_buckets=8, m=8, ks=16,
                opq=True,
            )
            with open(marker, "w") as mk:
                mk.write("ok")
    queries = emb.where(F.col("vec_id") < 10)
    approx = ann_ops.ivfpq_topk(eng, "emb_opq_idx", queries, k=5, nprobe=3, rerank=50)
    exact = sim_ops.brute_force_topk(emb, queries, k=5)
    return _recall_summary(exact, approx, min_floor=None, avg_floor=0.4)


def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series CUSUM mean-shift changepoint
    (operators/series.py::cusum_changepoint — Page 1954) over daily
    bucket means from the resample pushdown: D_i = |S_i - (i/n)S_n|
    argmax over interior points, reported with both segment means. The
    bucket means round to 6 BEFORE the cumulative sums, so the running
    sums (and therefore the split point, not just its statistic) are
    bit-reproducible cross-engine — the oracle value-checks the
    detected day itself. One exchange keyed by series (plan-pinned in
    tests/test_aggregates.py)."""
    from modelardb_rs_spark.operators.series import cusum_changepoint

    eng = _ts_engine(spark, sf_dir)
    res = eng.resample("ts_events", "1 day", {"value": "avg"}, group_by=["etype"])
    pts = res.select(
        "etype", "bucket", F.round("avg_value", 6).alias("y")
    )
    out = cusum_changepoint(pts, ["etype"], ts_col="bucket", value_col="y")
    return out.select(
        "etype",
        "n_points",
        (F.unix_micros("cp_bucket") / F.lit(86_400_000_000.0)).alias("cp_day"),
        "d_stat",
        "mean_before",
        "mean_after",
        "shift",
    )


def ts_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series Pearson correlation on daily buckets
    (Engine.correlate → operators/correlate.py): bucket means come from
    the resample pushdown, pairs from one bucket-keyed self-join."""
    eng = _ts_engine(spark, sf_dir)
    out = eng.correlate("ts_events", "value", every="1 day")
    return out.select(
        "series_a", "series_b", "n_buckets", F.round("corr", 4).alias("corr")
    )


def doc_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain re-weighting (operators/mixing.py::
    domain_mix): resample the corpus so three sources hit 60/30/10
    target shares — scarce domains repeat for whole epochs plus a
    hash-decided fractional epoch, abundant ones subsample. Map-only
    after one tiny per-stratum count broadcast; exact oracle (the
    factor arithmetic and md5 keep-decision reproduce bit-for-bit in
    DuckDB)."""
    from modelardb_rs_spark.operators.mixing import domain_mix

    (docs,) = _prep(spark, sf_dir, "documents")
    mixed = domain_mix(
        docs, {"src0": 0.6, "src1": 0.3, "src2": 0.1}, "source", salt="mix5"
    )
    return mixed.select("doc_id", "source", "epoch")


def doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixing (operators/mixing.py::
    temperature_weights -> domain_mix — the mT5/XLM-R p_s ∝ |s|^alpha
    rule at alpha=0.5): weights derive from the corpus's own per-lang
    counts, upsampling low-resource languages. Exact oracle: the SQL
    replays BOTH normalizing sums with the same left-to-right
    sorted-lang association order python uses (float sums over strata
    are order-sensitive in the last ulp and the keep-decision is
    exact), then the same factor arithmetic + md5 keep rule as
    doc_domain_mix."""
    (docs,) = _prep(spark, sf_dir, "documents")
    w = mix_ops.temperature_weights(docs, 0.5, "lang")
    mixed = mix_ops.domain_mix(docs, w, "lang", salt="temp12")
    return mixed.select("doc_id", "lang", "epoch")


def doc_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards
    (operators/mixing.py::shuffle_shards): hash-assigned shard plus
    md5-order position within the shard — the shuffle-once-at-write
    layout. The rank window partitions BY shard, so the sort
    parallelizes and no global single-partition window exists; exact
    oracle."""
    from modelardb_rs_spark.operators.mixing import shuffle_shards

    (docs,) = _prep(spark, sf_dir, "documents")
    return shuffle_shards(docs, 8, salt="s5").select("doc_id", "shard", "pos")


def sim_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 scalar quantization of the
    embedding corpus (operators/quantize.py): fit scales in one narrow
    aggregate, quantize map-only, and report per-vector reconstruction
    fidelity (max abs error + cosine to the original) — the cheap
    4x-compression tier under PQ. Exact oracle: DuckDB reproduces the
    scales, codes, and error reductions bit-for-bit (index-order
    array reductions on both sides)."""
    from modelardb_rs_spark.operators.quantize import int8_reconstruction_stats

    (emb,) = _prep(spark, sf_dir, "embeddings")
    return int8_reconstruction_stats(emb)


def sim_semantic_dedup_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket-distributed semantic dedup
    (semantic_near_pairs(max_bucket_rows=...): buckets above the cap
    split into hash chunks and the quadratic verify runs one task per
    (chunk_i, chunk_j) pair — per-task memory bounded by two chunks,
    work spread across the cluster, output bit-identical to the
    single-task plan by construction). Same corpus, same closed-form
    oracle as sim_semantic_dedup — this entry pins the chunked plan's
    value-identity under the driver's gate."""
    from modelardb_rs_spark.operators.similarity import semantic_dedup

    (emb,) = _prep(spark, sf_dir, "embeddings")
    dups = emb.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.001)).cast("float")
        ).alias("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(dups)
    kept = semantic_dedup(
        corpus, threshold=0.999, n_clusters=8, max_bucket_rows=24
    )
    return kept.select("vec_id").orderBy("vec_id")


def sim_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUTO-sized hot-bucket lever (semantic_near_pairs(
    max_bucket_rows="auto"): the chunk cap derives from the bucket
    histogram — max(floor, mult x median bucket size), the same
    median-anchored family rule as the LSH/SimHash caps — so hot
    buckets chunk without a hand-tuned constant). Floor/mult are set
    low here so the auto rule genuinely CHUNKS at this scale; the
    output must stay bit-identical to the single-task plan, so this
    entry shares sim_semantic_dedup's closed-form oracle."""
    from modelardb_rs_spark.operators.similarity import semantic_dedup

    (emb,) = _prep(spark, sf_dir, "embeddings")
    dups = emb.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.001)).cast("float")
        ).alias("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(dups)
    kept = semantic_dedup(
        corpus, threshold=0.999, n_clusters=8, max_bucket_rows="auto",
        auto_chunk_floor=16, auto_chunk_median_mult=1,
    )
    return kept.select("vec_id").orderBy("vec_id")


def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (operators/similarity.py::
    semantic_dedup, Abbas et al. 2023): k-means clusters cap pairwise
    work at ~N^2/k, cosine>=threshold pairs within clusters form
    connected components, one representative survives per component.
    The corpus is the embeddings table plus a 1.001-scaled copy of
    every 7th vector — cosine exactly 1 and near-zero L2 offset, so
    each copy co-clusters with its original and the TRUE kept set is
    known in closed form (the originals); the data's own max pairwise
    cosine is ~0.51, far below threshold. Exact oracle on the kept
    ids."""
    from modelardb_rs_spark.operators.similarity import semantic_dedup

    (emb,) = _prep(spark, sf_dir, "embeddings")
    dups = emb.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.001)).cast("float")
        ).alias("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(dups)
    kept = semantic_dedup(corpus, threshold=0.999, n_clusters=8)
    return kept.select("vec_id").orderBy("vec_id")


def sim_semantic_dedup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup(nprobe=2) — the boundary-recall lever under the
    oracle gate: every vector joins its two nearest clusters (numpy
    multi-probe assignment), so pairs straddling a k-means boundary are
    examined too. Same planted fixture as sim_semantic_dedup (1.001-
    scaled copies, cosine exactly 1; background max ~0.51), so the TRUE
    kept set is the originals in closed form — nprobe widens only the
    EXAMINED pair set, never the qualifying one, and a multi-probe bug
    that dropped or duplicated survivors (e.g. candidate dedup running
    on the wrong side of the verify) breaks the exact compare."""
    from modelardb_rs_spark.operators.similarity import semantic_dedup

    (emb,) = _prep(spark, sf_dir, "embeddings")
    dups = emb.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.001)).cast("float")
        ).alias("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(dups)
    kept = semantic_dedup(corpus, threshold=0.999, n_clusters=8, nprobe=2)
    return kept.select("vec_id").orderBy("vec_id")


def sim_semantic_dedup_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup(collapse_exact=True): identical vectors collapse
    to one representative BEFORE clustering, so within-cluster quadratic
    work scales with distinct vectors, not corpus rows. The corpus
    plants both duplicate kinds — a byte-identical 20-copy family of
    vec 3 (the collapse target) and 1.001-scaled near-dups of every 7th
    vector (the semantic path) — and the kept set is the originals in
    closed form, same oracle shape as sim_semantic_dedup."""
    from modelardb_rs_spark.operators.similarity import semantic_dedup

    (emb,) = _prep(spark, sf_dir, "embeddings")
    family = (
        emb.where(F.col("vec_id") == 3)
        .crossJoin(spark.range(1, 21).select(F.col("id").alias("__i__")))
        .select(
            (F.col("vec_id") + 2_000_000 + F.col("__i__")).alias("vec_id"),
            "embedding",
            "label",
        )
    )
    dups = emb.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.001)).cast("float")
        ).alias("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(dups).unionByName(family)
    kept = semantic_dedup(corpus, threshold=0.999, n_clusters=8, collapse_exact=True)
    return kept.select("vec_id").orderBy("vec_id")


def stream_vector_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN maintenance (streaming/ingest.py::
    vector_ingest_batch): a persisted IVF index built over the first
    1000 vectors grows by txn-gated micro-batch appends — epoch 1 adds
    the rest of the table, a REPLAY of epoch 1 is a commit-layer no-op
    (exactly-once), epoch 2 adds a 1.5-scaled copy of vec 0 (cosine
    exactly 1, sign/direction-preserving) which a probe then finds.
    Deterministic label coarse quantizer, so every indicator is
    closed-form for the oracle."""
    from modelardb_rs_spark.streaming.ingest import vector_ingest_batch

    (emb,) = _prep(spark, sf_dir, "embeddings")
    eng = _cached_engine(
        spark, tempfile.mkdtemp(prefix="sparkmodelar_vecstream_")
    )
    # modulus split so both halves are non-empty at every sf
    first = emb.where(F.col("vec_id") % 5 != 0)
    build_stats = ann_ops.build_ivf_index(eng, "vs_idx", first, bucket_col="label")
    rest = emb.where(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    vector_ingest_batch(eng, "vs_idx", rest, 1)
    replay = vector_ingest_batch(eng, "vs_idx", rest, 1)
    # ids are derived from the (filtered-to-0) vec_id column rather than
    # written as literals: a constant id column would let Catalyst fold
    # the downstream Window.partitionBy key away and execute the top-k
    # rank as a single-partition global window (29 "No Partition
    # Defined" warnings per gate run at fixture scale; a real serialized
    # sort at production scale). Values are unchanged: vec_id is 0 here.
    copy = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.5)).cast("float")).alias(
            "embedding"
        ),
    )
    vector_ingest_batch(eng, "vs_idx", copy, 2)
    # appends never add buckets (fixed-centroid IVF), so the build's own
    # stats give nprobe=all without a count job over the metadata table
    n_buckets = build_stats["n_buckets"]
    probe = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 999_999).alias("vec_id"), "embedding"
    )
    found = ann_ops.ivf_index_topk(
        eng, "vs_idx", probe, k=5, nprobe=int(n_buckets)
    ).where(F.col("neighbor_id") == 5_000_000)
    return spark.createDataFrame(
        [
            (
                eng.table("vs_idx__vectors").count(),
                int(replay["appended"]),
                int(replay["replayed"]),
                found.count(),
            )
        ],
        "n_vectors BIGINT, replay_appended BIGINT, replayed BIGINT, copy_found BIGINT",
    )


def doc_train_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-batch prep — the mixing→packing composition
    downstream of cleaning (the companion to doc_clean_pipeline):
    token-count quality gate → exact dedup (min id per normalized
    fingerprint) → domain re-weighting to 50/30/20 target shares with
    epoch replicas (operators/mixing.py::domain_mix) → deterministic
    4-shard global shuffle (shuffle_shards) → 256-token sequence
    packing in shuffled shard order (packing.py::pack_documents, the
    distributed prefix sum). One SQL oracle reproduces the WHOLE chain
    row-exactly: every stage is hash-deterministic, the mix weights are
    the same normalized double literals on both engines, and the packed
    token spans pin the final layout — drift in any stage, or in how
    the stages compose, breaks the compare."""
    from pyspark import StorageLevel

    from modelardb_rs_spark.operators.mixing import domain_mix, shuffle_shards
    from modelardb_rs_spark.operators.packing import pack_documents
    from modelardb_rs_spark.operators.text import token_count

    (docs,) = _prep(spark, sf_dir, "documents")
    gated = docs.withColumn("n_tok", token_count(F.col("text")).cast("long")).where(
        F.col("n_tok") >= 20
    )
    deduped = dedup_ops.distinct_documents(gated)
    mixed = domain_mix(
        deduped, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, "source", salt="train7"
    )
    # replica id: epoch fits in 6 bits (max factor here ~10 epochs —
    # w_max * |sources| with near-uniform strata; 64 leaves headroom)
    rep = mixed.withColumn(
        "rep_id", F.col("doc_id") * F.lit(64).cast("long") + F.col("epoch")
    )
    sharded = shuffle_shards(rep, 4, id_col="rep_id", salt="train7")
    # pack in shuffled training order: shard-major, position-minor.
    # Persist the NARROW mix output (ids + counts, no text): it feeds
    # pack_documents' checkpoint AND the final span join, and without
    # the cache each branch re-executes the whole gate -> dedup-window
    # -> mix -> shard-window chain (the round-12 plan ran that chain
    # ~4x per action; plans/r13/doc_train_pipeline_before.txt). Same
    # persist-the-thin-columns discipline as doc_train_pipeline_bpe.
    # INVARIANT (here and at every entry-function persist): these
    # cache entries assume the source parquet under sf_dir is
    # IMMUTABLE for the session — a repeat invocation hits the
    # CacheManager on the canonically-identical plan and would serve
    # stale results if the files changed. bench.py clears the Spark
    # cache before every headline line (round 14), which also bounds
    # accumulation; a long-lived non-bench session should clearCache()
    # after consuming the result if its inputs can change.
    packed_in = (
        sharded.withColumn(
            "pack_id",
            F.col("shard").cast("long") * F.lit(1 << 40).cast("long") + F.col("pos"),
        )
        .select("pack_id", "doc_id", "epoch", "shard", "n_tok")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    packed = pack_documents(packed_in, 256, id_col="pack_id", token_count_col="n_tok")
    return packed.join(
        packed_in.select("pack_id", "doc_id", "epoch", "shard"), "pack_id"
    ).select(
        "doc_id",
        "epoch",
        "shard",
        "seq_id",
        "doc_token_start",
        "doc_token_end",
        "seq_token_start",
        "n_tokens",
    )


def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real byte-level BPE encoding (operators/bpe.py — trained merges
    checked in at resources/bpe_vocab.py): per document, the exact
    token count, an md5 fingerprint of the full token-id sequence, and
    a decode(encode(text)) == text roundtrip flag. The oracle embeds
    literals PINNED BY THE SLOW REFERENCE ENCODER (reference_encode —
    sequential merge application, no rank shortcuts), so every
    correctness run cross-checks the fast Arrow-batched encoder
    against an algorithmically independent implementation, token by
    token (the hash covers ids AND order), plus losslessness."""
    from modelardb_rs_spark.operators import bpe as bpe_ops

    (docs,) = _prep(spark, sf_dir, "documents")
    enc = bpe_ops.encode_documents(docs)
    return enc.select(
        "doc_id",
        F.size("bpe_ids").cast("long").alias("n_bpe_tokens"),
        bpe_ops.token_ids_hash(F.col("bpe_ids")).alias("ids_md5"),
        (bpe_ops.bpe_decode_udf()(F.col("bpe_ids")) == F.col("text")).alias(
            "roundtrip_ok"
        ),
    )


def doc_train_pipeline_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_train_pipeline with TOKENIZER-FAITHFUL packing: the gate and
    the 256-token sequence packing run on EXACT BPE token counts
    (operators/bpe.py::bpe_count_udf — real merges, not the whitespace
    proxy), so a packed sequence holds 256 actual tokenizer tokens —
    the one contract a training pipeline cannot fudge. The oracle
    replays the identical chain in SQL with the token counts supplied
    as literals pinned from the slow reference encoder: a drift in the
    fast encoder's counts, the gate, the mix, the shuffle, or the
    prefix-sum packing all break the compare."""
    from pyspark import StorageLevel

    from modelardb_rs_spark.operators.bpe import bpe_count_udf
    from modelardb_rs_spark.operators.mixing import domain_mix, shuffle_shards
    from modelardb_rs_spark.operators.packing import pack_documents

    (docs,) = _prep(spark, sf_dir, "documents")
    gated = docs.withColumn("n_tok", bpe_count_udf()(F.col("text"))).where(
        F.col("n_tok") >= 30
    )
    # Persist the NARROW post-dedup projection (id, source, count — no
    # text): domain_mix's per-source count aggregate and pack_documents'
    # two prefix-sum passes each re-scan this frame, and without the
    # cache every scan re-runs real BPE over the corpus. Tokenize once,
    # reuse thrice — at 100 TB the persisted frame is three thin columns
    # (the tokenized TEXT is never cached), which is exactly the part
    # that fits.
    deduped = (
        dedup_ops.distinct_documents(gated)
        .select("doc_id", "source", "n_tok")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Materialize the cache EAGERLY: the downstream branches (mix's
    # per-source counts, pack's two prefix-sum passes, the final join)
    # are independent stages that would otherwise race to compute the
    # cached partitions and each re-run the tokenizer. One count job =
    # exactly one BPE pass over the corpus.
    deduped.count()
    mixed = domain_mix(
        deduped, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, "source", salt="train8"
    )
    rep = mixed.withColumn(
        "rep_id", F.col("doc_id") * F.lit(64).cast("long") + F.col("epoch")
    )
    sharded = shuffle_shards(rep, 4, id_col="rep_id", salt="train8")
    # persist the narrow pack input too: the pack checkpoint and the
    # final span join otherwise each re-run the mix + shard-window
    # chain (from the persisted dedup frame, but still one extra
    # window shuffle per branch)
    packed_in = (
        sharded.withColumn(
            "pack_id",
            F.col("shard").cast("long") * F.lit(1 << 40).cast("long") + F.col("pos"),
        )
        .select("pack_id", "doc_id", "epoch", "shard", "n_tok")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    packed = pack_documents(packed_in, 256, id_col="pack_id", token_count_col="n_tok")
    return packed.join(
        packed_in.select("pack_id", "doc_id", "epoch", "shard"), "pack_id"
    ).select(
        "doc_id",
        "epoch",
        "shard",
        "seq_id",
        "doc_token_start",
        "doc_token_end",
        "seq_token_start",
        "n_tokens",
    )


def sim_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index health telemetry under the oracle gate
    (ann_index.ivf_index_stats): build a label-bucketed IVF index over
    the embeddings, append scaled copies of the last 50 vectors (cosine
    to every centroid identical to their originals — positive scaling),
    and report the rebuild signals. The oracle recomputes EVERYTHING
    from the base table: per-label float32 centroids, each appended
    vector's argmax-cosine bucket, the bucket histogram, and the
    per-bucket centroid drift (1 - cos(stored centroid, current bucket
    mean)), rounded where float summation order may differ."""
    from modelardb_rs_spark.operators import ann_index

    # a lightweight dedicated folder — _ts_engine would ingest the whole
    # ts_events table this entry never touches
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(cache_root("statsidx"), f"{key}_v1")
    os.makedirs(root, exist_ok=True)
    eng = _cached_engine(spark, root)
    (emb,) = _prep(spark, sf_dir, "embeddings")
    ann_index.build_ivf_index(eng, "stats_idx", emb, bucket_col="label")
    appended = emb.where(F.col("vec_id") >= 450).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.5)).cast("float")).alias(
            "embedding"
        ),
    )
    ann_index.append_to_ivf_index(eng, "stats_idx", appended)
    s = ann_index.ivf_index_stats(eng, "stats_idx", drift=True)
    row = [
        (
            s["n_buckets"],
            s["built_vectors"],
            s["current_vectors"],
            float(s["appended_fraction"]),
            s["bucket_min"],
            s["bucket_p50"],
            s["bucket_max"],
            float(round(s["max_centroid_drift"], 4)),
        )
    ]
    return spark.createDataFrame(
        row,
        "n_buckets LONG, built_vectors LONG, current_vectors LONG, "
        "appended_fraction DOUBLE, bucket_min LONG, bucket_p50 LONG, "
        "bucket_max LONG, max_drift DOUBLE",
    )


def sim_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-rebuild policy acting on index health
    (ann_index.ivf_index_maintenance): a fresh label-bucketed IVF index
    is a maintenance NO-OP; a skewed append wave (scaled copies of the
    last 50 vectors) trips max_appended_fraction; the rebuild re-fits
    the coarse quantizer over built + appended vectors and REPLACES the
    index tables atomically (one conditional commit each — probes
    resolve the old or new snapshot, never a missing table); a second
    run is a no-op again (replay-safe). The oracle recomputes every
    deterministic column — trip flags, the tripped appended fraction,
    and vector counts before/after — from the base table with exact
    arithmetic; the kmeans geometry itself is pytest-verified
    (tests/test_ann_index.py planted-pair recall)."""
    from modelardb_rs_spark.operators import ann_index

    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(cache_root("maintidx"), f"{key}_v1")
    os.makedirs(root, exist_ok=True)
    eng = _cached_engine(spark, root)
    (emb,) = _prep(spark, sf_dir, "embeddings")
    ann_index.build_ivf_index(eng, "maint_idx", emb, bucket_col="label")
    noop = ann_index.ivf_index_maintenance(
        eng, "maint_idx", max_appended_fraction=0.05
    )
    appended = emb.where(F.col("vec_id") >= 450).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.5)).cast("float")).alias(
            "embedding"
        ),
    )
    ann_index.append_to_ivf_index(eng, "maint_idx", appended)
    out = ann_index.ivf_index_maintenance(
        eng, "maint_idx", max_appended_fraction=0.05, n_buckets=8
    )
    after = ann_index.ivf_index_stats(eng, "maint_idx", drift=False)
    again = ann_index.ivf_index_maintenance(
        eng, "maint_idx", max_appended_fraction=0.05
    )
    row = [
        (
            int(noop["rebuilt"]),
            int(out["rebuilt"]),
            float(out["stats_before"]["appended_fraction"]),
            out["stats_before"]["current_vectors"],
            after["current_vectors"],
            float(after["appended_fraction"]),
            int(again["rebuilt"]),
        )
    ]
    return spark.createDataFrame(
        row,
        "noop_rebuilt LONG, rebuilt LONG, tripped_fraction DOUBLE, "
        "vectors_at_trip LONG, vectors_after LONG, fraction_after DOUBLE, "
        "rerun_rebuilt LONG",
    )


def _train_sequences_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared chain for doc_train_sequences / doc_train_export: BPE gate
    → exact dedup → domain mix → shard shuffle → 256-token pack →
    materialize. Returns (seq_id, token_ids, seq_len)."""
    from pyspark import StorageLevel

    from modelardb_rs_spark.operators import bpe as bpe_ops
    from modelardb_rs_spark.operators.mixing import domain_mix, shuffle_shards
    from modelardb_rs_spark.operators.packing import (
        materialize_sequences,
        pack_documents,
    )

    (docs,) = _prep(spark, sf_dir, "documents")
    # ONE tokenizer pass: ids give both the gate count and the sequences
    enc = bpe_ops.encode_documents(docs).persist(StorageLevel.MEMORY_AND_DISK)
    gated = enc.withColumn("n_tok", F.size("bpe_ids").cast("long")).where(
        F.col("n_tok") >= 30
    )
    deduped = (
        dedup_ops.distinct_documents(gated)
        .select("doc_id", "source", "n_tok")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deduped.count()
    mixed = domain_mix(
        deduped, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, "source", salt="train8"
    )
    rep = mixed.withColumn(
        "rep_id", F.col("doc_id") * F.lit(64).cast("long") + F.col("epoch")
    )
    sharded = shuffle_shards(rep, 4, id_col="rep_id", salt="train8")
    # narrow pack-input persist: the pack checkpoint, the span join,
    # and the tokens_by_pack join all read this frame (see
    # doc_train_pipeline's plan note)
    packed_in = (
        sharded.withColumn(
            "pack_id",
            F.col("shard").cast("long") * F.lit(1 << 40).cast("long") + F.col("pos"),
        )
        .select("pack_id", "doc_id", "epoch", "shard", "n_tok")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    packed = pack_documents(packed_in, 256, id_col="pack_id", token_count_col="n_tok")
    tokens_by_pack = packed_in.select("pack_id", "doc_id").join(
        enc.select("doc_id", F.col("bpe_ids").alias("token_ids")), "doc_id"
    )
    return materialize_sequences(packed, tokens_by_pack, id_col="pack_id")


def doc_train_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training pipeline's FINAL deliverable: materialized token
    sequences. Runs the doc_train_pipeline_bpe chain (BPE gate → exact
    dedup → domain mix → shard shuffle → 256-token pack) and then
    assembles each packed sequence's ACTUAL token ids
    (packing.materialize_sequences — join spans to per-doc ids, slice,
    reassemble in-order). Output: (seq_id, seq_len, ids_md5) — the md5
    covers every token id AND their order, so the oracle (which replays
    the whole chain in SQL over token-id list literals pinned by the
    slow reference encoder) verifies the dataloader-ready sequences
    token-by-token."""
    seqs = _train_sequences_frame(spark, sf_dir)
    return seqs.select(
        "seq_id",
        F.col("seq_len").cast("long").alias("seq_len"),
        F.md5(
            F.concat_ws(
                ",", F.transform("token_ids", lambda x: x.cast("string"))
            ).cast("binary")
        ).alias("ids_md5"),
    )


def doc_train_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard EXPORT — the last dataloader step (packing.py::
    export_training_shards): the materialized sequences land on disk as
    per-shard parquet in training order, MULTI-FILE per shard (shard =
    contiguous slice of the global shuffled sequence stream; each shard
    splits into file_seq=0,1,... slices of at most 8 sequences (small on
    purpose — the sf0.01 gate then pins a genuinely multi-file shard:
    every shard exports 3-4 files), each
    written by its own task, rows ascending seq_id inside each file) —
    the layout a trainer's W dataloader workers stream directly while
    the write parallelizes beyond W and file size stays bounded
    independently of W. Returns the read-back verification manifest
    keyed (shard, file_seq): per-file sequence/token counts, seq-id
    range, and an order-sensitive digest over the file's (seq_id,
    md5(token_ids)) pairs — the oracle replays the whole chain over
    reference-encoder-pinned token-id literals and recomputes every
    manifest column with exact integer arithmetic, so a drifted shard
    or file boundary, a reordered row, or one wrong token id in the
    WRITTEN files breaks the compare. No reference analog
    (modelardb_rs_spark is the training-prep superset)."""
    import fcntl

    from modelardb_rs_spark.operators.packing import export_training_shards

    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(cache_root("trainexport"), f"{key}_v3")
    os.makedirs(root, exist_ok=True)
    out_dir = os.path.join(root, "shards")
    marker = os.path.join(root, ".export_done")
    with open(os.path.join(root, ".export_lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(marker):
            seqs = _train_sequences_frame(spark, sf_dir)
            export_training_shards(
                seqs, out_dir, n_shards=4, rows_per_file=8
            ).count()
            with open(marker, "w") as m:
                m.write("ok")
    # recompute the manifest from the files on disk (what a trainer
    # reads), independent of whether this call did the write
    back = spark.read.parquet(out_dir).select(
        "shard",
        F.col("file_seq").cast("int").alias("file_seq"),
        "seq_id",
        F.col("seq_len").cast("long").alias("seq_len"),
        F.md5(
            F.concat_ws(
                ",", F.transform("token_ids", lambda x: x.cast("string"))
            ).cast("binary")
        ).alias("__d__"),
    )
    return (
        back.groupBy("shard", "file_seq")
        .agg(
            F.count("*").cast("long").alias("n_sequences"),
            F.sum("seq_len").cast("long").alias("n_tokens"),
            F.min("seq_id").alias("first_seq_id"),
            F.max("seq_id").alias("last_seq_id"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seq_id", "__d__"))),
                        lambda s: F.concat_ws(
                            ":", s["seq_id"].cast("string"), s["__d__"]
                        ),
                    ),
                ).cast("binary")
            ).alias("file_md5"),
        )
        .orderBy("shard", "file_seq")
    )


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: compress events into the model store, grid it back, and
    aggregate — the engine's signature round trip."""
    return ts_grid_roundtrip(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS to the driver (it verifies the FIRST 50 entries):
    # round 11 completed cumulative driver verification of every entry
    # declared before round 11 (127/127). This rotation puts the ONLY
    # three never-driver-sampled entries — the round-11 additions
    # sim_semantic_dedup_auto / q_asof_auto_hot / sim_ingest_dedup_check
    # — first, padded to 50 with the least-recently-verified block
    # (last sampled r9-r10). A green CORRECTNESS_r12 on the first three
    # finishes driver coverage of EVERY declared entry. Round-12
    # additions sit behind them in the same window. The full 130+-entry
    # run costs ~3-3.5 min (TESTDATA.md) -- the standing proposal is to
    # gate on all of it; until then rotation is the lever.
    return {
        # --- never driver-sampled: the three round-11 additions ---
        "sim_semantic_dedup_auto": sim_semantic_dedup_auto,
        "q_asof_auto_hot": q_asof_auto_hot,
        "sim_ingest_dedup_check": sim_ingest_dedup_check,
        # --- round-12 additions (inside the first-50 window) ---
        "sim_opq_topk": sim_opq_topk,
        "sim_ivfpq_opq": sim_ivfpq_opq,
        "sim_mmr_rerank": sim_mmr_rerank,
        "doc_weighted_sample": doc_weighted_sample,
        "ts_changepoint": ts_changepoint,
        "doc_temperature_mix": doc_temperature_mix,
        # --- padding to 50: least-recently-verified (r9-r10) ---
        "sim_semantic_dedup_multiprobe": sim_semantic_dedup_multiprobe,
        "doc_train_export": doc_train_export,
        "stream_vector_ingest": stream_vector_ingest,
        "sim_semantic_dedup": sim_semantic_dedup,
        "sim_semantic_dedup_chunked": sim_semantic_dedup_chunked,
        "sim_semantic_dedup_collapsed": sim_semantic_dedup_collapsed,
        "sim_index_stats": sim_index_stats,
        "sim_index_maintenance": sim_index_maintenance,
        "q_asof_hot_bucketed": q_asof_hot_bucketed,
        "doc_train_sequences": doc_train_sequences,
        "doc_train_pipeline": doc_train_pipeline,
        "doc_train_pipeline_bpe": doc_train_pipeline_bpe,
        "doc_bpe_encode": doc_bpe_encode,
        "doc_bpe_tokens": doc_bpe_tokens,
        "doc_pack_sequences": doc_pack_sequences,
        "sim_int8_quantize": sim_int8_quantize,
        "sim_bruteforce_topk": sim_bruteforce_topk,
        "sim_threshold_count": sim_threshold_count,
        "sim_ivf_topk": sim_ivf_topk,
        "sim_ivf_trained": sim_ivf_trained,
        "sim_ivf_index": sim_ivf_index,
        "sim_ivfpq_topk": sim_ivfpq_topk,
        "sim_pq_topk": sim_pq_topk,
        "sim_lsh_topk": sim_lsh_topk,
        "dedup_embedding": dedup_embedding,
        "dedup_minhash": dedup_minhash,
        "dedup_minhash_lsh_pairs": dedup_minhash_lsh_pairs,
        "dedup_minhash_verified": dedup_minhash_verified,
        "dedup_clusters": dedup_clusters,
        "dedup_corpus": dedup_corpus,
        "dedup_simhash": dedup_simhash,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_contamination": dedup_contamination,
        "dedup_index_check": dedup_index_check,
        "dedup_sampled_recall": dedup_sampled_recall,
        "dedup_capped_lsh": dedup_capped_lsh,
        "doc_exact_dups": doc_exact_dups,
        "doc_line_dedup": doc_line_dedup,
        "doc_span_dedup": doc_span_dedup,
        "doc_span_cleaned": doc_span_cleaned,
        "doc_token_stats": doc_token_stats,
        "doc_quality": doc_quality,
        "doc_quality_filter": doc_quality_filter,
        "doc_langid": doc_langid,
        "doc_pii": doc_pii,
        "doc_pii_redacted": doc_pii_redacted,
        # --- tail: r9-r10-verified remainder ---
        "doc_fingerprints": doc_fingerprints,
        "doc_clean_pipeline": doc_clean_pipeline,
        "doc_rag_pipeline": doc_rag_pipeline,
        "ts_grid_roundtrip": ts_grid_roundtrip,
        "ts_pushdown_aggs": ts_pushdown_aggs,
        "ts_pushdown_var": ts_pushdown_var,
        "ts_pushdown_grouped": ts_pushdown_grouped,
        "ts_time_range": ts_time_range,
        "ts_generated_column": ts_generated_column,
        "ts_tag_filter_pushdown": ts_tag_filter_pushdown,
        "ts_limit_pushdown": ts_limit_pushdown,
        "ts_value_filter_pushdown": ts_value_filter_pushdown,
        "ts_range_partial_pushdown": ts_range_partial_pushdown,
        "ts_multifield": ts_multifield,
        "ts_many_series": ts_many_series,
        "ts_resample": ts_resample,
        "ts_resample_sql": ts_resample_sql,
        "ts_latest": ts_latest,
        "ts_gapfill": ts_gapfill,
        "ts_last_sql": ts_last_sql,
        "ts_value_at": ts_value_at,
        "ts_m4": ts_m4,
        "ts_outliers": ts_outliers,
        "ts_histogram": ts_histogram,
        "ts_series_spans": ts_series_spans,
        "ts_rate": ts_rate,
        "ts_rolling": ts_rolling,
        "ts_lossy_bound": ts_lossy_bound,
        "ts_time_travel": ts_time_travel,
        "stream_windowed_rollup": stream_windowed_rollup,
        # --- tail: r11-verified ---
        "doc_domain_mix": doc_domain_mix,
        "doc_shuffle_shards": doc_shuffle_shards,
        "doc_stratified_sample": doc_stratified_sample,
        "multimodal_resize": multimodal_resize,
        "doc_repetition": doc_repetition,
        "doc_tfidf": doc_tfidf,
        "doc_profile": doc_profile,
        "doc_sample": doc_sample,
        "doc_chunks": doc_chunks,
        "doc_top_ngrams": doc_top_ngrams,
        "doc_unigram_lm": doc_unigram_lm,
        "ts_correlation": ts_correlation,
        "ts_autocorr": ts_autocorr,
        "ts_trend": ts_trend,
        "ts_seasonal": ts_seasonal,
        "ts_periodicity": ts_periodicity,
        "q_json_props": q_json_props,
        "q_funnel": q_funnel,
        "q_interval_join": q_interval_join,
        "ts_retention": ts_retention,
        "ts_rollup_retention": ts_rollup_retention,
        "q10_returned_items": q10_returned_items,
        "q18_large_orders": q18_large_orders,
        "q_interp_join": q_interp_join,
        # --- padding to 50: least-recently-verified (r1/r7/r9) ---
        "multimodal_features": multimodal_features,
        "multimodal_metadata": multimodal_metadata,
        "multimodal_frames": multimodal_frames,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "q6_revenue_forecast": q6_revenue_forecast,
        "q_anti_join": q_anti_join,
        "q_asof_join": q_asof_join,
        "q_asof_sql": q_asof_sql,
        "q_distinct_parts": q_distinct_parts,
        "q_events_hourly": q_events_hourly,
        "q_events_sessions": q_events_sessions,
        "q_min_price_per_brand": q_min_price_per_brand,
        "q_nation_volume": q_nation_volume,
        "q_order_priority": q_order_priority,
        "q_percentiles": q_percentiles,
        "q_pivot": q_pivot,
        "q_rollup": q_rollup,
        "q_set_ops": q_set_ops,
        "q_subquery_scalar": q_subquery_scalar,
        "q_top_customers": q_top_customers,
        "q_topk_per_group": q_topk_per_group,
        "q_window_running_total": q_window_running_total,
        "stream_continuous_rollup": stream_continuous_rollup,
        "stream_dedup": stream_dedup,
    }


# DuckDB oracle SQL. Tables are pre-registered views. The events view has
# nanosecond timestamps: CAST(ts AS TIMESTAMP) truncates to µs, matching
# the Spark loader's µs normalization.

_SHINGLE_CTE = """
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_transform(range(0, len(t) - 3 + 1),
                                 i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
        END)) AS shingle
    FROM toks
)
"""

# MinHash(k=16) → 8 bands of 2 — the shared banding mirror of
# dedup.minhash_signatures + band_keys.
_MINHASH_BANDS_CTE = (
    _SHINGLE_CTE
    + ", sig AS (SELECT doc_id, "
    + ", ".join(
        f"min((CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT)"
        f" + {i} * CAST('0x' || substr(md5(shingle), 8, 7) AS BIGINT))"
        f" % 2147483647) AS h{i}"
        for i in range(16)
    )
    + " FROM sh GROUP BY doc_id),\n    bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('|', h{2 * b}, h{2 * b + 1}) AS bh FROM sig"
        for b in range(8)
    )
    + ")"
)

# ... → LSH candidates → exact Jaccard on the candidate pairs only —
# the DuckDB mirror of dedup.minhash_dedup_pairs.
_MINHASH_VERIFY_CTE = (
    _MINHASH_BANDS_CTE
    + """,
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS i
        FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
                    JOIN sh sb ON sb.doc_id = c.id_b AND sa.shingle = sb.shingle
        GROUP BY 1, 2
    ),
    j AS (
        SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (sza.ns + szb.ns - i), 6) AS jaccard
        FROM inter JOIN sizes sza ON sza.doc_id = id_a
                   JOIN sizes szb ON szb.doc_id = id_b
    )
"""
)


# The oracle must count/replace with the SAME pattern strings the Spark
# operator uses (operators/pii.py keeps them in the RE2/Java-common
# subset for exactly this reason).
_PII = dict(pii_ops.PII_PATTERNS)


def oracle_sql() -> dict[str, str]:
    lang_counts = {
        lang: f"len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN {tuple(words)!r}))".replace(
            "',)", "')"
        )
        for lang, words in sorted(text_ops.LANG_STOPWORDS.items())
    }
    best = "greatest(" + ", ".join(f"c_{lang}" for lang in sorted(text_ops.LANG_STOPWORDS)) + ")"
    pred = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in sorted(text_ops.LANG_STOPWORDS):
        pred += f"WHEN c_{lang} = {best} THEN '{lang}' "
    pred += "END"

    simhash_bitsum = ", ".join(
        f"sum(CASE WHEN (hv & {1 << b}) > 0 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(dedup_ops.SIMHASH_BITS)
    )
    simhash_sig = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(dedup_ops.SIMHASH_BITS)
    )

    oracles = {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey LIMIT 10
        """,
        "q5_local_supplier_volume": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN supplier ON l_suppkey = s_suppkey
                          JOIN customer ON o_custkey = c_custkey
                          JOIN nation ON s_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
            GROUP BY n_name
        """,
        "q6_revenue_forecast": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1996-01-01'
              AND l_discount BETWEEN 0.03 AND 0.07
              AND l_quantity < 24
        """,
        "q_top_customers": """
            SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS total_spent,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY total_spent DESC, c_custkey LIMIT 20
        """,
        "q_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
            GROUP BY o_orderpriority
        """,
        "q_window_running_total": """
            SELECT o_custkey, o_orderkey, round(sum(o_totalprice) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
            FROM orders QUALIFY o_custkey <= 100
        """,
        "q_distinct_parts": """
            SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                   count(DISTINCT l_suppkey) AS n_supps
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_set_ops": """
            WITH auto AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
                 rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
            SELECT 'union' AS set_op, count(*) AS n FROM (SELECT DISTINCT c_custkey FROM (SELECT * FROM auto UNION ALL SELECT * FROM rich))
            UNION ALL
            SELECT 'intersect', count(*) FROM (SELECT c_custkey FROM auto INTERSECT SELECT c_custkey FROM rich)
            UNION ALL
            SELECT 'except', count(*) FROM (SELECT DISTINCT c_custkey FROM auto EXCEPT SELECT DISTINCT c_custkey FROM rich)
        """,
        "q_rollup": """
            SELECT coalesce(l_returnflag, 'ALL') AS rf,
                   coalesce(l_linestatus, 'ALL') AS ls,
                   count(*) AS n, round(sum(l_quantity), 2) AS qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "q_anti_join": """
            SELECT c_mktsegment, count(*) AS n_customers,
                   round(sum(c_acctbal), 2) AS total_bal
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
            GROUP BY c_mktsegment
        """,
        "q_topk_per_group": """
            SELECT c_mktsegment, CAST(rk AS INTEGER) AS rk, o_orderkey,
                   round(o_totalprice, 2) AS price
            FROM (
                SELECT c_mktsegment, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY c_mktsegment
                                          ORDER BY o_totalprice DESC, o_orderkey) AS rk
                FROM orders JOIN customer ON o_custkey = c_custkey
            ) WHERE rk <= 3
        """,
        "q_percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_events_hourly": """
            SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00:00') AS hour,
                   event_type, count(*) AS n, round(sum(value), 2) AS total
            FROM events GROUP BY 1, 2
        """,
        "q_events_sessions": """
            -- gap math in µs on both sides (epoch_ns // 1000 matches Spark's
            -- truncating ns->us load); bare sum(int) is HUGEINT in DuckDB, so
            -- cast to BIGINT to hash-match Spark's LongType.
            WITH e AS (
                SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events
            ), g AS (
                SELECT user_id,
                       CASE WHEN lag(ts_us) OVER w IS NULL
                                 OR ts_us - lag(ts_us) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS session_start
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            )
            SELECT user_id, CAST(sum(session_start) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "ts_grid_roundtrip": """
            SELECT event_type AS etype, count(*) AS n,
                   round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) AS total
            FROM events GROUP BY event_type
        """,
        "ts_pushdown_aggs": """
            SELECT count(*) AS cnt,
                   min(CAST(value AS FLOAT)) AS mn,
                   max(CAST(value AS FLOAT)) AS mx,
                   round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) AS sm,
                   round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)) / count(*), 4) AS av
            FROM events
        """,
        "ts_pushdown_grouped": """
            SELECT event_type AS etype, count(*) AS n,
                   min(CAST(value AS FLOAT)) AS mn,
                   max(CAST(value AS FLOAT)) AS mx
            FROM events GROUP BY event_type
        """,
        "ts_pushdown_var": """
            SELECT event_type AS etype,
                   round(var_pop(CAST(CAST(value AS FLOAT) AS DOUBLE)), 4) AS vp,
                   round(stddev_samp(CAST(CAST(value AS FLOAT) AS DOUBLE)), 4) AS sd
            FROM events GROUP BY event_type
        """,
        "ts_time_range": """
            SELECT event_type AS etype, count(*) AS n,
                   round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) AS total
            FROM events
            WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-05'
              AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-15'
            GROUP BY event_type
        """,
        "ts_tag_filter_pushdown": """
            SELECT count(*) AS n,
                   min(CAST(value AS FLOAT)) AS mn,
                   max(CAST(value AS FLOAT)) AS mx
            FROM events WHERE event_type = 'click'
        """,
        "ts_range_partial_pushdown": """
            SELECT event_type AS etype,
                   round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) AS sum_value
            FROM events
            WHERE epoch_ns(ts) // 1000 >= epoch_us(TIMESTAMP '2024-01-05')
              AND epoch_ns(ts) // 1000 <= epoch_us(TIMESTAMP '2024-01-15')
            GROUP BY event_type
        """,
        "ts_generated_column": """
            SELECT event_type AS etype,
                   round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)
                             + CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) AS sum_doubled,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "ts_many_series": """
            SELECT CAST(user_id AS VARCHAR) AS uid, count(*) AS n,
                   min(CAST(value AS FLOAT)) AS mn,
                   max(CAST(value AS FLOAT)) AS mx
            FROM events GROUP BY user_id
        """,
        "ts_series_spans": """
            SELECT event_type AS etype, 'value' AS field,
                   make_timestamp(min(epoch_ns(ts) // 1000)) AS first_ts,
                   make_timestamp(max(epoch_ns(ts) // 1000)) AS last_ts,
                   count(*) AS n_points
            FROM events GROUP BY 1
        """,
        "ts_rate": """
            WITH p AS (
                SELECT event_type AS etype, epoch_ns(ts) // 1000 AS ts_us,
                       CAST(CAST(value AS FLOAT) AS DOUBLE) AS v
                FROM events
            ), d AS (
                SELECT etype,
                       v - lag(v) OVER w AS delta,
                       (ts_us - lag(ts_us) OVER w) / 1e6 AS dt_s
                FROM p WINDOW w AS (PARTITION BY etype ORDER BY ts_us)
            )
            SELECT etype,
                   count(CASE WHEN dt_s > 0 AND delta IS NOT NULL THEN 1 END) AS n_rates,
                   round(sum(delta), 2) AS delta_sum,
                   round(avg(dt_s), 4) AS avg_dt_s
            FROM d GROUP BY 1
        """,
        "ts_rolling": """
            WITH p AS (
                SELECT event_type AS etype, epoch_ns(ts) // 1000 AS ts_us,
                       CAST(CAST(value AS FLOAT) AS DOUBLE) AS v
                FROM events
            ), d AS (
                SELECT etype,
                       avg(v) OVER (PARTITION BY etype ORDER BY ts_us
                                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS rm
                FROM p
            )
            SELECT etype, count(*) AS n, round(sum(rm), 2) AS roll_sum
            FROM d GROUP BY 1
        """,
        "ts_histogram": """
            WITH p AS (
                SELECT event_type AS etype,
                       CAST(CAST(value AS FLOAT) AS DOUBLE) AS v
                FROM events
            )
            SELECT etype,
                   CAST(least(greatest(floor(v / 50.0), 0), 7) AS INT) AS bin,
                   round(least(greatest(floor(v / 50.0), 0), 7) * 50.0, 2) AS bin_lo,
                   count(*) AS n
            FROM p GROUP BY 1, 2, 3
        """,
        "ts_outliers": """
            WITH p AS (
                SELECT event_type AS etype,
                       CAST(CAST(value AS FLOAT) AS DOUBLE) AS v
                FROM events
            ), st AS (
                SELECT etype, sum(v) / count(*) AS mu,
                       sqrt(greatest(sum(v * v) - sum(v) * sum(v) / count(*), 0)
                            / count(*)) AS sd
                FROM p GROUP BY 1
            )
            SELECT p.etype, count(*) AS n_outliers,
                   round(sum(abs(p.v - st.mu) / st.sd), 2) AS z_sum
            FROM p JOIN st ON p.etype = st.etype
            WHERE abs(p.v - st.mu) > 1.6 * st.sd
            GROUP BY 1
        """,
        "ts_m4": """
            WITH p AS (
                SELECT event_type AS etype, epoch_ns(ts) // 1000 AS t,
                       CAST(value AS FLOAT) AS v
                FROM events
            ), b AS (
                SELECT etype, t - (t % 86400000000) AS b_us, t, v FROM p
            ), r AS (
                SELECT etype, b_us, t, v,
                       row_number() OVER (PARTITION BY etype, b_us ORDER BY t, v) AS rf,
                       row_number() OVER (PARTITION BY etype, b_us ORDER BY t DESC, v DESC) AS rl,
                       row_number() OVER (PARTITION BY etype, b_us ORDER BY v, t) AS rmn,
                       row_number() OVER (PARTITION BY etype, b_us ORDER BY v DESC, t DESC) AS rmx
                FROM b
            )
            SELECT DISTINCT etype, make_timestamp(b_us) AS bucket,
                   make_timestamp(t) AS timestamp, v AS value
            FROM r WHERE rf = 1 OR rl = 1 OR rmn = 1 OR rmx = 1
        """,
        "ts_value_at": """
            WITH p AS (
                SELECT event_type AS etype, epoch_ns(ts) // 1000 AS ts_us,
                       CAST(CAST(value AS FLOAT) AS DOUBLE) AS v
                FROM events
            ), pr AS (
                SELECT etype, arg_max(v, ts_us) AS pv, max(ts_us) AS pt
                FROM p WHERE ts_us <= epoch_us(TIMESTAMP '2024-01-15 12:00:00')
                GROUP BY 1
            ), nx AS (
                SELECT etype, arg_min(v, ts_us) AS nv, min(ts_us) AS nt
                FROM p WHERE ts_us >= epoch_us(TIMESTAMP '2024-01-15 12:00:00')
                GROUP BY 1
            )
            SELECT pr.etype, 'value' AS field,
                   TIMESTAMP '2024-01-15 12:00:00' AS timestamp,
                   round(CASE WHEN pr.pt = epoch_us(TIMESTAMP '2024-01-15 12:00:00')
                              THEN pr.pv
                              ELSE pr.pv + (nx.nv - pr.pv)
                                   * (epoch_us(TIMESTAMP '2024-01-15 12:00:00') - pr.pt)
                                   / (nx.nt - pr.pt) END, 4) AS value
            FROM pr JOIN nx ON pr.etype = nx.etype
        """,
        "ts_last_sql": """
            SELECT event_type AS etype,
                   arg_max(CAST(value AS FLOAT), epoch_ns(ts)) AS last_v,
                   arg_min(CAST(value AS FLOAT), epoch_ns(ts)) AS first_v
            FROM events GROUP BY event_type
        """,
        "ts_gapfill": """
            WITH p AS (
                SELECT event_type AS etype,
                       (epoch_ns(ts) // 1000)
                       - ((epoch_ns(ts) // 1000) % 3600000000) AS b_us,
                       CAST(value AS FLOAT) AS v
                FROM events
            ), a AS (
                SELECT etype, b_us,
                       sum(CAST(v AS DOUBLE)) / count(*) AS av
                FROM p GROUP BY 1, 2
            ), rng AS (
                SELECT etype, min(b_us) AS mn, max(b_us) AS mx FROM a GROUP BY 1
            ), spine AS (
                SELECT etype, unnest(generate_series(mn, mx, 3600000000)) AS b_us
                FROM rng
            ), j AS (
                SELECT s.etype, s.b_us, a.av
                FROM spine s LEFT JOIN a ON s.etype = a.etype AND s.b_us = a.b_us
            ), f AS (
                SELECT etype, b_us, av,
                       last_value(av IGNORE NULLS) OVER w AS pv,
                       last_value(CASE WHEN av IS NOT NULL THEN b_us END IGNORE NULLS) OVER w AS pb,
                       first_value(av IGNORE NULLS) OVER w2 AS nv,
                       first_value(CASE WHEN av IS NOT NULL THEN b_us END IGNORE NULLS) OVER w2 AS nb
                FROM j
                WINDOW w AS (PARTITION BY etype ORDER BY b_us
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       w2 AS (PARTITION BY etype ORDER BY b_us
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT etype, count(*) AS n_slots,
                   CAST(sum(CASE WHEN av IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
                   round(sum(CASE WHEN av IS NOT NULL THEN av
                                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                                  THEN pv + (nv - pv) * (b_us - pb) / (nb - pb)
                                  END), 2) AS filled_sum
            FROM f GROUP BY etype
        """,
        "ts_value_filter_pushdown": """
            SELECT count(*) AS n, round(sum(CAST(value AS FLOAT)), 2) AS s
            FROM events
            WHERE CAST(value AS FLOAT) >= 200.0 AND event_type = 'click'
        """,
        "ts_limit_pushdown": """
            SELECT count(*) AS n
            FROM (SELECT ts FROM events LIMIT 500) q
        """,
        "ts_latest": """
            WITH p AS (
                SELECT event_type AS etype, epoch_ns(ts) // 1000 AS ts_us,
                       CAST(value AS FLOAT) AS v
                FROM events
            ), r AS (
                SELECT etype, ts_us, v,
                       row_number() OVER (PARTITION BY etype
                                          ORDER BY ts_us DESC, v DESC) AS rn
                FROM p
            )
            SELECT etype, 'value' AS field, make_timestamp(ts_us) AS timestamp,
                   v AS value
            FROM r WHERE rn = 1
        """,
        "ts_resample": """
            SELECT strftime(make_timestamp(
                       (epoch_ns(ts) // 1000)
                       - ((epoch_ns(ts) // 1000) % 86400000000)), '%Y-%m-%d') AS day,
                   event_type AS etype, count(*) AS n,
                   round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) AS total
            FROM events GROUP BY 1, 2
        """,
"ts_resample_sql": """
            SELECT strftime(make_timestamp(
                       (epoch_ns(ts) // 1000)
                       - ((epoch_ns(ts) // 1000) % 86400000000)), '%Y-%m-%d') AS day,
                   event_type AS etype, count(*) AS n,
                   round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) AS total
            FROM events GROUP BY 1, 2
        """,
        "ts_lossy_bound": """
            SELECT CAST(0 AS BIGINT) AS violations,
                   (SELECT count(*) FROM events) AS n_points,
                   (SELECT count(*) FROM
                     (SELECT DISTINCT epoch_ns(ts) // 1000, event_type FROM events)) AS n_groups
        """,
        "ts_time_travel": """
            SELECT
              (SELECT count(*) FROM events
               WHERE epoch_ns(ts) // 1000 < epoch_us(TIMESTAMP '2024-01-16')) AS v0_n,
              (SELECT round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) FROM events
               WHERE epoch_ns(ts) // 1000 < epoch_us(TIMESTAMP '2024-01-16')) AS v0_sum,
              (SELECT count(*) FROM events
               WHERE epoch_ns(ts) // 1000 < epoch_us(TIMESTAMP '2024-01-16')) AS t0_n,
              (SELECT round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) FROM events
               WHERE epoch_ns(ts) // 1000 < epoch_us(TIMESTAMP '2024-01-16')) AS t0_sum,
              (SELECT count(*) FROM events) AS cur_n,
              (SELECT round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) FROM events) AS cur_sum,
              CAST(2 AS BIGINT) AS n_commits
        """,
        "stream_continuous_rollup": """
            WITH p AS (
                SELECT event_type,
                       (epoch_ns(ts) // 1000)
                       - ((epoch_ns(ts) // 1000) % 3600000000) AS h_us,
                       CAST(value AS DOUBLE) AS v
                FROM events
            )
            SELECT strftime(make_timestamp(h_us), '%Y-%m-%d %H:00:00') AS hour,
                   event_type AS etype, count(*) AS n,
                   round(sum(v), 2) AS total,
                   round(sum(v) / count(*), 4) AS av,
                   min(v) AS min, max(v) AS max,
                   round(greatest(sum(v * v) - sum(v) * sum(v) / count(*), 0)
                         / count(*), 2) AS vp
            FROM p GROUP BY 1, 2
        """,
        "stream_windowed_rollup": """
            WITH p AS (
                SELECT event_type,
                       (epoch_ns(ts) // 1000)
                       - ((epoch_ns(ts) // 1000) % 3600000000) AS h_us,
                       CAST(value AS DOUBLE) AS v
                FROM events
            ), cutoff AS (
                SELECT max(epoch_ns(ts) // 1000) - 600000000 AS c FROM events
            )
            SELECT strftime(make_timestamp(h_us), '%Y-%m-%d %H:00:00') AS hour,
                   event_type AS etype, count(*) AS n,
                   round(sum(v), 2) AS total,
                   min(v) AS mn, max(v) AS mx
            FROM p, cutoff
            WHERE h_us + 3600000000 <= cutoff.c
            GROUP BY 1, 2
        """,
        "q_min_price_per_brand": """
            SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price
            FROM part p
            WHERE p_retailprice = (SELECT min(p2.p_retailprice)
                                   FROM part p2 WHERE p2.p_brand = p.p_brand)
        """,
        "q_nation_volume": """
            SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS volume,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE n1.n_name < n2.n_name
            GROUP BY 1, 2
        """,
        "q_subquery_scalar": """
            SELECT o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
            GROUP BY o_orderpriority
        """,
        "q_pivot": """
            SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                   count(*) FILTER (event_type = 'click') AS n_click,
                   count(*) FILTER (event_type = 'view') AS n_view,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'signup') AS n_signup,
                   count(*) FILTER (event_type = 'error') AS n_error
            FROM events GROUP BY 1
        """,
        "q_asof_join": """
            -- epoch_ns // 1000 matches Spark's truncating ns->us load
            -- (DuckDB's TIMESTAMP_NS->TIMESTAMP cast rounds instead)
            WITH p AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us
                       FROM events WHERE event_type = 'purchase'),
                 c AS (SELECT user_id AS cu, epoch_ns(ts) // 1000 AS c_us
                       FROM events WHERE event_type = 'click')
            SELECT count(*) AS n_purchases,
                   count(c_us) AS n_with_click,
                   round(CAST(sum(p.ts_us - c_us) AS DOUBLE)
                         / count(c_us), 2) AS avg_gap_us
            FROM p ASOF LEFT JOIN c ON p.user_id = c.cu AND p.ts_us >= c.c_us
        """,
        "q_asof_sql": """
            WITH p AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us
                       FROM events WHERE event_type = 'purchase'),
                 c AS (SELECT user_id AS cu, epoch_ns(ts) // 1000 AS c_us
                       FROM events WHERE event_type = 'click')
            SELECT p.user_id AS user_id, count(*) AS n_purchases,
                   count(c.c_us) AS n_with_click,
                   CAST(sum(p.ts_us - c.c_us) AS BIGINT) AS total_gap_us
            FROM p ASOF LEFT JOIN c ON p.user_id = c.cu AND p.ts_us >= c.c_us
            GROUP BY p.user_id ORDER BY user_id
        """,
        "multimodal_frames": """
            WITH f AS (SELECT doc_id, unnest(range(0, 2)) * 2 AS frame_idx FROM documents)
            SELECT count(*) AS n_frames, count(DISTINCT doc_id) AS n_media,
                   CAST(sum(frame_idx) AS BIGINT) AS sum_idx
            FROM f
        """,
        "stream_dedup": """
            WITH fp AS (SELECT DISTINCT
                            md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
                        FROM documents)
            SELECT count(*) AS n_unique, count(*) AS n_fingerprints,
                   min(f) AS min_fp, max(f) AS max_fp
            FROM fp
        """,
        "doc_fingerprints": """
            SELECT count(*) AS n_docs,
                   count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS n_distinct,
                   min(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS min_fp,
                   max(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS max_fp
            FROM documents
        """,
        "doc_exact_dups": """
            WITH fp AS (SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
                        FROM documents),
                 g AS (SELECT f, count(*) AS n FROM fp GROUP BY f HAVING count(*) > 1)
            SELECT count(*) AS n_groups,
                   CAST(coalesce(sum(n), 0) AS BIGINT) AS n_dup_docs FROM g
        """,
        "doc_token_stats": """
            WITH t AS (SELECT lang,
                              CASE WHEN trim(text) = '' THEN 0
                                   ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
                       FROM documents)
            SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   round(avg(n_tokens), 4) AS avg_tokens,
                   max(n_tokens) AS max_tokens
            FROM t GROUP BY lang
        """,
        "doc_bpe_tokens": f"""
            WITH t AS (SELECT lang,
                              len(regexp_extract_all(text, '{text_ops.BPE_TOKEN_PATTERN.replace("'", "''")}')) AS n
                       FROM documents)
            SELECT lang, CAST(sum(n) AS BIGINT) AS total_bpe,
                   round(avg(n), 4) AS avg_bpe
            FROM t GROUP BY lang
        """,
        "doc_chunks": """
            -- closed-form mirror of chunk_documents(256, 32), stride 224:
            -- last chunk index k = trunc(max((len-33)/224, 0)); every
            -- chunk but the last is full (256), the last holds len-224k
            -- chars (0 for empty text) — an independent derivation of
            -- what the engine materializes by explode+substring
            WITH c AS (
              SELECT length(text) AS len,
                     CAST(trunc(greatest((length(text) - 33) / 224.0, 0)) AS BIGINT) AS k
              FROM documents
            )
            SELECT CAST(sum(k + 1) AS BIGINT) AS n_chunks,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN len = 0 THEN 0 ELSE k * 256 + (len - 224 * k) END) AS BIGINT) AS total_chars,
                   CAST(max(k) AS BIGINT) AS max_idx
            FROM c
        """,
        "doc_sample": """
            WITH a AS (
              SELECT * FROM documents
              WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'train')), 1, 8)) AS BIGINT) % 10000 < 1000
            ),
            b AS (
              SELECT doc_id FROM documents
              WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'val')), 1, 8)) AS BIGINT) % 10000 < 1000
            )
            SELECT CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(n_chars) AS BIGINT) AS kept_chars,
                   CAST((SELECT count(*) FROM a JOIN b USING (doc_id)) AS BIGINT) AS salt_overlap_by_chance
            FROM a
        """,
        "dedup_contamination": """
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(trim(text), '\\s+') END AS toks
                FROM documents
            ), s AS (
                SELECT doc_id,
                       CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                            ELSE list_distinct(list_transform(
                                     generate_series(1, len(toks) - 4),
                                     i -> array_to_string(toks[i:i+4], ' ')))
                       END AS sh
                FROM d
            ), tr AS (
                SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 5 <> 0
            ), ev AS (
                SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 5 = 0
            ), hits AS (
                SELECT ev.doc_id, count(*) AS n_cont
                FROM ev JOIN tr ON ev.g = tr.g GROUP BY 1
            )
            SELECT s.doc_id, len(s.sh) AS n_ngrams,
                   coalesce(h.n_cont, 0) AS n_contaminated,
                   CASE WHEN len(s.sh) > 0
                        THEN round(CAST(coalesce(h.n_cont, 0) AS DOUBLE) / len(s.sh), 6)
                        ELSE 0.0 END AS contamination_frac
            FROM s LEFT JOIN hits h ON s.doc_id = h.doc_id
            WHERE s.doc_id % 5 = 0
            ORDER BY contamination_frac DESC, s.doc_id ASC
            LIMIT 15
        """,
        "doc_profile": """
            SELECT 'doc_id' AS "column", 'bigint' AS dtype, count(*) AS n_rows,
                   count(*) - count(doc_id) AS n_nulls,
                   round(CAST(count(*) - count(doc_id) AS DOUBLE) / count(*), 6) AS null_frac,
                   count(DISTINCT doc_id) AS n_distinct,
                   CAST(min(doc_id) AS VARCHAR) AS min_str,
                   CAST(max(doc_id) AS VARCHAR) AS max_str
            FROM documents
            UNION ALL
            SELECT 'lang', 'string', count(*), count(*) - count(lang),
                   round(CAST(count(*) - count(lang) AS DOUBLE) / count(*), 6),
                   count(DISTINCT lang),
                   CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'source', 'string', count(*), count(*) - count(source),
                   round(CAST(count(*) - count(source) AS DOUBLE) / count(*), 6),
                   count(DISTINCT source),
                   CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'n_chars', 'bigint', count(*), count(*) - count(n_chars),
                   round(CAST(count(*) - count(n_chars) AS DOUBLE) / count(*), 6),
                   count(DISTINCT n_chars),
                   CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
            FROM documents
        """,
        "doc_tfidf": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\\s+')) AS term
                FROM documents WHERE trim(text) <> ''
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
            ), dfq AS (
                SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
            ), n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                       round(tf.tf * (ln((n.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0), 6) AS score
                FROM tf, dfq, n WHERE tf.term = dfq.term
            ), ranked AS (
                SELECT doc_id, term, tf, df, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, term) AS rank
                FROM scored
            )
            SELECT doc_id, rank, term, tf, df, score
            FROM ranked WHERE rank <= 3 AND doc_id < 10
        """,
        "doc_repetition": """
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(trim(text), '\\s+') END AS toks
                FROM documents
            ), m AS (
                SELECT doc_id, len(toks) AS n_tokens,
                       CASE WHEN len(toks) > 0
                            THEN round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
                            ELSE 0.0 END AS dup_token_frac,
                       toks
                FROM t
            ), b AS (
                SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                      i -> toks[i] || ' ' || toks[i + 1])) AS bigram
                FROM m WHERE n_tokens >= 2
            ), c AS (
                SELECT doc_id, bigram, count(*) AS top_bigram_n,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY count(*) DESC, bigram) AS rn
                FROM b GROUP BY doc_id, bigram
            )
            SELECT m.doc_id, m.n_tokens, m.dup_token_frac,
                   c.bigram AS top_bigram,
                   coalesce(c.top_bigram_n, 0) AS top_bigram_n,
                   CASE WHEN m.n_tokens > 0
                        THEN round(least(2.0 * coalesce(c.top_bigram_n, 0) / m.n_tokens, 1.0), 6)
                        ELSE 0.0 END AS top_bigram_frac
            FROM m LEFT JOIN c ON m.doc_id = c.doc_id AND c.rn = 1
            ORDER BY top_bigram_frac DESC, m.doc_id ASC
            LIMIT 20
        """,
        "doc_quality": """
            WITH f AS (
                SELECT source,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                       length(text) AS n_char,
                       length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                                     t -> t IN ('the','a','and','of','to','is','in','that'))) END AS stop
                FROM documents
            ), r AS (
                SELECT source,
                       CASE WHEN n_char > 0 THEN round(CAST(punct AS DOUBLE) / n_char, 4) ELSE 0.0 END AS punct_ratio,
                       CASE WHEN n_tokens > 0 THEN round(CAST(stop AS DOUBLE) / n_tokens, 4) ELSE 0.0 END AS stopword_ratio,
                       n_tokens
                FROM f
            ), s AS (
                SELECT source, punct_ratio, stopword_ratio,
                       round(least(n_tokens / 100.0, 1.0) * 0.4
                             + least(stopword_ratio * 5.0, 1.0) * 0.4
                             + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 4) AS quality_score
                FROM r
            )
            SELECT source, round(avg(quality_score), 4) AS avg_quality,
                   round(avg(punct_ratio), 4) AS avg_punct,
                   round(avg(stopword_ratio), 4) AS avg_stop
            FROM s GROUP BY source
        """,
        "doc_langid": f"""
            WITH c AS (SELECT lang,
                {', '.join(f"{expr} AS c_{lang}" for lang, expr in lang_counts.items())}
                FROM documents)
            SELECT lang, {pred} AS predicted_lang, count(*) AS n
            FROM c GROUP BY 1, 2
        """,
        "dedup_ngram_jaccard": _SHINGLE_CTE
        + """
            , sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            j AS (
                SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (sa.ns + sb.ns - i), 6) AS jac
                FROM inter JOIN sizes sa ON sa.doc_id = id_a
                           JOIN sizes sb ON sb.doc_id = id_b
            )
            SELECT count(*) AS n_pairs,
                   round(coalesce(sum(jac), 0.0), 4) AS sum_jaccard,
                   round(coalesce(max(jac), 0.0), 6) AS max_jaccard
            FROM j WHERE jac >= 0.10
        """,
        "dedup_clusters": _SHINGLE_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)
        + """
            , sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT id_a, id_b
                FROM inter JOIN sizes sa ON sa.doc_id = id_a
                           JOIN sizes sb ON sb.doc_id = id_b
                WHERE round(CAST(i AS DOUBLE) / (sa.ns + sb.ns - i), 6) >= 0.10
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ),
            reach AS (
                SELECT DISTINCT src AS id, src AS r FROM edges
                UNION
                SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
            ),
            labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
            SELECT count(DISTINCT cluster_id) AS n_clusters,
                   count(*) AS n_clustered_docs,
                   CAST(sum(cluster_id) AS BIGINT) AS sum_cluster_ids
            FROM labels
        """,
        "dedup_minhash": _SHINGLE_CTE
        + """
            , sig AS (
                SELECT doc_id,
                """
        + ", ".join(
        f"min((CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT)"
        f" + {i} * CAST('0x' || substr(md5(shingle), 8, 7) AS BIGINT))"
        f" % 2147483647) AS h{i}"
        for i in range(8)
    )
        + """
                FROM sh GROUP BY doc_id
            ),
            s AS (SELECT doc_id, md5(concat_ws('|', h0, h1, h2, h3, h4, h5, h6, h7)) AS sigc FROM sig)
            SELECT count(*) AS n_docs, count(DISTINCT sigc) AS n_distinct_sigs,
                   min(sigc) AS min_sig
            FROM s
        """,
        "dedup_minhash_lsh_pairs": _MINHASH_VERIFY_CTE
        + """
            SELECT count(*) AS n_pairs,
                   round(coalesce(max(jaccard), 0.0), 6) AS max_jaccard
            FROM j WHERE jaccard >= 0.10
        """,
        "dedup_minhash_verified": _MINHASH_VERIFY_CTE
        + """
            SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.10
        """,
        # seeded/sampled pipeline: the driver hash-checks the recall-floor
        # indicators, which the deterministic sampled run always clears
        "dedup_sampled_recall": """
            SELECT CAST(1 AS BIGINT) AS truth_nonempty,
                   CAST(1 AS BIGINT) AS recall_ok
        """,
        "dedup_capped_lsh": _MINHASH_BANDS_CTE
        + """,
            bsz AS (SELECT band, bh, count(*) AS n FROM bands GROUP BY band, bh),
            kept AS (
                SELECT b.doc_id, b.band, b.bh
                FROM bands b JOIN bsz USING (band, bh) WHERE bsz.n <= 4
            ),
            capped AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM kept a JOIN kept b
                  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            ),
            uncapped AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            ),
            autocap AS (
                SELECT greatest(4, CAST(ceil(2.0 * quantile_cont(n, 0.5)) AS BIGINT)) AS cap
                FROM bsz
            ),
            kept_auto AS (
                SELECT b.doc_id, b.band, b.bh
                FROM bands b JOIN bsz USING (band, bh), autocap
                WHERE bsz.n <= autocap.cap
            ),
            auto_capped AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM kept_auto a JOIN kept_auto b
                  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            )
            SELECT (SELECT count(*) FROM capped) AS n_capped,
                   CAST(coalesce((SELECT sum(id_a + id_b) FROM capped), 0) AS BIGINT)
                       AS sum_capped_ids,
                   (SELECT count(*) FROM uncapped) AS n_uncapped,
                   (SELECT count(*) FROM auto_capped) AS n_auto_capped
        """,
        "dedup_corpus": _MINHASH_VERIFY_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)
        + """
            , pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.10),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ),
            reach AS (
                SELECT DISTINCT src AS id, src AS r FROM edges
                UNION
                SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
            ),
            labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
            dropped AS (SELECT id FROM labels WHERE id <> cluster_id)
            SELECT count(*) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents
            WHERE doc_id NOT IN (SELECT id FROM dropped)
        """,
        "dedup_simhash": f"""
            WITH tok AS (
                SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tk
                FROM documents WHERE trim(text) <> ''
            ),
            h AS (SELECT doc_id, CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS hv FROM tok),
            bits AS (SELECT doc_id, {simhash_bitsum} FROM h GROUP BY doc_id),
            sig AS (SELECT doc_id, {simhash_sig} AS simhash FROM bits)
            SELECT count(*) AS n_docs, count(DISTINCT simhash) AS n_distinct,
                   CAST(sum(simhash % 1000003) AS BIGINT) AS sum_simhash
            FROM sig
        """,
        "dedup_simhash_pairs": f"""
            WITH tok AS (
                SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tk
                FROM documents WHERE trim(text) <> ''
            ),
            h AS (SELECT doc_id, CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS hv FROM tok),
            bits AS (SELECT doc_id, {simhash_bitsum} FROM h GROUP BY doc_id),
            sig AS (SELECT doc_id, {simhash_sig} AS simhash FROM bits)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            ORDER BY id_a, id_b
        """,
        "sim_bruteforce_topk": """
            WITH q AS (SELECT vec_id AS query_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                  FROM embeddings),
            scored AS (
                SELECT query_id, neighbor_id,
                       round(list_dot_product(qv, cv) /
                             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
                FROM q CROSS JOIN c WHERE neighbor_id <> query_id
            ),
            ranked AS (
                SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 5
        """,
        # Mirrors operators/similarity.ivf_topk exactly: per-label centroid
        # = elementwise mean cast to float32, queries probe the nprobe=2
        # nearest centroids (ties by label), exact cosine ranks within the
        # probed buckets (cos rounded to 6, ties by neighbor id).
        "sim_ivf_topk": """
            WITH e AS (SELECT vec_id, label,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            ex AS (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e),
            cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
            cent AS (SELECT label,
                            list_transform(list(CAST(m AS FLOAT) ORDER BY i),
                                           x -> CAST(x AS DOUBLE)) AS cv
                     FROM cm GROUP BY label),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
            pc AS (SELECT query_id, qv, label,
                          list_dot_product(qv, cv) /
                          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS ccos
                   FROM q CROSS JOIN cent),
            pr AS (SELECT query_id, qv, label,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY ccos DESC, label) AS prn
                   FROM pc),
            probes AS (SELECT query_id, qv, label FROM pr WHERE prn <= 2),
            scored AS (
                SELECT query_id, e.vec_id AS neighbor_id,
                       round(list_dot_product(qv, e.v) /
                             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
                FROM probes JOIN e USING (label)
                WHERE e.vec_id <> query_id
            ),
            ranked AS (
                SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 5
        """,
        # seeded approximate indexes: the driver hash-checks the recall
        # floor indicators, which the deterministic pipelines always clear
        "sim_lsh_topk": """
            SELECT CAST(10 AS BIGINT) AS n_queries,
                   CAST(1 AS BIGINT) AS avg_recall_ok,
                   CAST(1 AS BIGINT) AS min_recall_ok
        """,
        "sim_pq_topk": """
            SELECT CAST(10 AS BIGINT) AS n_queries,
                   CAST(1 AS BIGINT) AS avg_recall_ok,
                   CAST(1 AS BIGINT) AS min_recall_ok
        """,
        "sim_opq_topk": """
            SELECT CAST(10 AS BIGINT) AS n_queries,
                   CAST(1 AS BIGINT) AS avg_recall_ok,
                   CAST(1 AS BIGINT) AS min_recall_ok
        """,
        "sim_ivf_trained": """
            SELECT CAST(10 AS BIGINT) AS n_queries,
                   CAST(1 AS BIGINT) AS avg_recall_ok
        """,
        "dedup_embedding": """
            SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
            FROM embeddings WHERE vec_id % 10 = 0
            ORDER BY id_a, id_b
        """,
        "sim_threshold_count": """
            WITH a AS (SELECT vec_id AS id_a,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS av
                       FROM embeddings WHERE vec_id < 100),
            b AS (SELECT vec_id AS id_b,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS bv
                  FROM embeddings),
            p AS (
                SELECT id_a, id_b,
                       round(list_dot_product(av, bv) /
                             (sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(bv, bv))), 6) AS cos
                FROM a CROSS JOIN b WHERE id_a < id_b
            )
            SELECT count(*) AS n_pairs, round(coalesce(sum(cos), 0.0), 4) AS sum_cos
            FROM p WHERE cos >= 0.8
        """,
        "multimodal_metadata": """
            SELECT count(*) AS n_media,
                   CAST(sum(CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) + 1) AS BIGINT) AS sum_width,
                   CAST(sum(CAST(('0x' || substr(md5(text), 3, 2)) AS INTEGER) + 1) AS BIGINT) AS sum_height,
                   CAST(sum(octet_length(unhex(md5(text)))) AS BIGINT) AS sum_bytes
            FROM documents
        """,
        # n_within_bound == n pins cross-stream alignment: `scaled` is
        # stored under a 0.5 absolute error bound, so the oracle knows
        # every correctly-paired row satisfies it without reproducing the
        # lossy values themselves.
        "ts_multifield": """
            SELECT count(*) AS n,
                   round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) AS sum_value,
                   count(*) AS n_within_bound
            FROM events
        """,
        "multimodal_resize": """
            WITH m AS (
              SELECT doc_id AS media_id, md5(text) AS hx,
                     CAST(concat('0x', substr(md5(text), 1, 2)) AS INT) + 1 AS width,
                     CAST(concat('0x', substr(md5(text), 3, 2)) AS INT) + 1 AS height
              FROM documents
            ),
            pos AS (SELECT unnest(range(0, 16)) AS p)
            SELECT m.media_id, CAST(pos.p AS INT) AS p,
                   CAST(concat('0x', substr(m.hx,
                        2 * CAST((( (pos.p // 4) * m.height // 4) * m.width
                                  + ((pos.p % 4) * m.width // 4)) % 16 AS INT) + 1, 2)) AS INT) AS pixel
            FROM m, pos
        """,
        "multimodal_features": """
            -- the fake codec's "pixels" ARE the md5 payload bytes, so the
            -- Python decode is reproducible from the hex digest in SQL
            WITH b AS (
              SELECT doc_id,
                     (SELECT avg(
                        (strpos('0123456789abcdef', substr(md5(text), 2*i-1, 1))-1)*16
                        + (strpos('0123456789abcdef', substr(md5(text), 2*i, 1))-1))
                      FROM generate_series(1, 16) AS t(i)) AS mean_byte
              FROM documents
            )
            SELECT CAST(count(*) AS BIGINT) AS n,
                   round(avg(mean_byte), 4) AS avg_mean_byte,
                   CAST(count(*) * 16 AS BIGINT) AS total_bytes
            FROM b
        """,
        "doc_pii": f"""
            WITH d2 AS (
              SELECT doc_id, lang,
                     CASE WHEN doc_id % 3 = 0
                          THEN text || ' reach user' || doc_id || '@' || source
                               || '.org or 10.' || (doc_id % 256) || '.0.'
                               || (doc_id % 100) || ' ssn 123-45-6789'
                          ELSE text END AS text
              FROM documents
            ), c AS (
              SELECT doc_id, lang,
                     len(regexp_extract_all(text, '{_PII["email"]}')) AS n_email,
                     len(regexp_extract_all(text, '{_PII["ipv4"]}')) AS n_ipv4,
                     len(regexp_extract_all(text, '{_PII["ssn"]}')) AS n_ssn,
                     len(regexp_extract_all(text, '{_PII["email"]}'))
                     + len(regexp_extract_all(text, '{_PII["ssn"]}'))
                     + len(regexp_extract_all(text, '{_PII["phone"]}'))
                     + len(regexp_extract_all(text, '{_PII["ipv4"]}')) AS n_pii
              FROM d2
            )
            SELECT lang,
                   CAST(sum(n_email) AS BIGINT) AS emails,
                   CAST(sum(n_ipv4) AS BIGINT) AS ipv4s,
                   CAST(sum(n_ssn) AS BIGINT) AS ssns,
                   CAST(sum(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii
            FROM c GROUP BY lang
        """,
        "doc_pii_redacted": f"""
            WITH d2 AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN text || ' reach user' || doc_id || '@' || source
                               || '.org or 10.' || (doc_id % 256) || '.0.'
                               || (doc_id % 100) || ' ssn 123-45-6789'
                          ELSE text END AS text
              FROM documents
            ), r AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                         text,
                         '{_PII["email"]}', '<EMAIL>', 'g'),
                         '{_PII["ssn"]}', '<SSN>', 'g'),
                         '{_PII["phone"]}', '<PHONE>', 'g'),
                         '{_PII["ipv4"]}', '<IPV4>', 'g') AS text
              FROM d2
            )
            SELECT CAST(sum(len(regexp_extract_all(text, '{_PII["email"]}'))
                          + len(regexp_extract_all(text, '{_PII["ssn"]}'))
                          + len(regexp_extract_all(text, '{_PII["phone"]}'))
                          + len(regexp_extract_all(text, '{_PII["ipv4"]}'))) AS BIGINT)
                       AS residual_pii,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars
            FROM r
        """,
        "doc_line_dedup": r"""
            WITH d2 AS (
              SELECT doc_id, lang,
                     'SHARED HEADER' || chr(10) || substr(text, 1, 40)
                     || chr(10) || chr(10) || text
                     || chr(10) || 'footer ' || lang AS text
              FROM documents
            ), ex AS (
              SELECT doc_id, lang,
                     unnest(string_split(text, chr(10))) AS line,
                     generate_subscripts(string_split(text, chr(10)), 1) AS line_no
              FROM d2
            ), n AS (
              SELECT *, lower(regexp_replace(trim(line), '\s+', ' ', 'g')) AS norm
              FROM ex
            ), common AS (
              SELECT norm FROM n WHERE norm <> ''
              GROUP BY norm HAVING count(DISTINCT doc_id) >= 2
            ), marked AS (
              SELECT n.*, n.norm IN (SELECT norm FROM common) AS is_common FROM n
            ), rebuilt AS (
              SELECT doc_id, lang,
                     coalesce(string_agg(line, chr(10) ORDER BY line_no)
                              FILTER (WHERE NOT is_common), '') AS text,
                     count(*) FILTER (WHERE NOT is_common) AS kept,
                     count(*) FILTER (WHERE is_common) AS removed
              FROM marked GROUP BY doc_id, lang
            )
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(kept) AS BIGINT) AS lines_kept,
                   CAST(sum(removed) AS BIGINT) AS lines_removed,
                   CAST(sum(length(text)) AS BIGINT) AS chars_kept
            FROM rebuilt GROUP BY lang
        """,
        "ts_correlation": """
            WITH b AS (
              SELECT event_type AS series,
                     (epoch_ns(ts) // 1000) // 86400000000 AS bucket,
                     avg(CAST(CAST(value AS FLOAT) AS DOUBLE)) AS v
              FROM events GROUP BY 1, 2
            )
            SELECT l.series AS series_a, r.series AS series_b,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   round(corr(l.v, r.v), 4) AS corr
            FROM b l JOIN b r USING (bucket)
            WHERE l.series < r.series
            GROUP BY 1, 2
            HAVING count(*) >= 2
        """,
    }
    # the persisted index probes the same buckets with the same math as
    # the inline pipeline, so it shares sim_ivf_topk's oracle verbatim
    oracles["sim_ivf_index"] = oracles["sim_ivf_topk"]
    # online SemDeDup gate: replay the label-centroid probe (same CTEs
    # as sim_ivf_topk), take each query's top-1 by (cos desc, neighbor
    # asc), and flag it a duplicate when the cosine clears the 0.999
    # threshold — copies of indexed vectors flag at cos 1, negated
    # vectors (cosine -1 to their source) pass as unique
    oracles["sim_ingest_dedup_check"] = """
        WITH e AS (SELECT vec_id, label,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        ex AS (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e),
        cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
        cent AS (SELECT label,
                        list_transform(list(CAST(m AS FLOAT) ORDER BY i),
                                       x -> CAST(x AS DOUBLE)) AS cv
                 FROM cm GROUP BY label),
        q AS (
            SELECT vec_id + 900000 AS query_id, v AS qv FROM e WHERE vec_id % 97 = 0
            UNION ALL
            SELECT vec_id + 950000 AS query_id,
                   list_transform(embedding,
                                  x -> CAST(CAST(-x AS FLOAT) AS DOUBLE)) AS qv
            FROM embeddings WHERE vec_id % 101 = 0
        ),
        pc AS (SELECT query_id, qv, label,
                      list_dot_product(qv, cv) /
                      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS ccos
               FROM q CROSS JOIN cent),
        pr AS (SELECT query_id, qv, label,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY ccos DESC, label) AS prn
               FROM pc),
        probes AS (SELECT query_id, qv, label FROM pr WHERE prn <= 2),
        scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                          round(list_dot_product(qv, e.v) /
                                (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
                   FROM probes JOIN e USING (label)
                   WHERE e.vec_id <> query_id),
        -- within-batch rule: a row is also flagged by any SMALLER-id
        -- batch peer sharing a probed bucket (pairs co-probing several
        -- buckets dedup via DISTINCT)
        selfsc AS (SELECT DISTINCT a.query_id, b.query_id AS neighbor_id,
                          round(list_dot_product(a.qv, b.qv) /
                                (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))), 6) AS cos
                   FROM probes a JOIN probes b
                     ON a.label = b.label AND b.query_id < a.query_id),
        allsc AS (SELECT * FROM scored UNION ALL SELECT * FROM selfsc),
        top1 AS (SELECT query_id, neighbor_id, cos,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, neighbor_id) AS rnk
                 FROM allsc)
        SELECT q.query_id AS vec_id,
               CASE WHEN t.cos >= 0.999 THEN t.neighbor_id END AS dup_of,
               CASE WHEN t.cos >= 0.999 THEN t.cos END AS dup_cos
        FROM q LEFT JOIN top1 t ON t.query_id = q.query_id AND t.rnk = 1
        ORDER BY vec_id
    """
    # value-identical two-pass plan: same oracle as the one-pass entry
    oracles["q_asof_hot_bucketed"] = oracles["q_asof_join"]
    oracles["q_asof_auto_hot"] = oracles["q_asof_join"]
    oracles["sim_ivfpq_topk"] = oracles["sim_ivf_trained"]
    oracles["sim_ivfpq_opq"] = oracles["sim_ivf_trained"]
    oracles["sim_mmr_rerank"] = _mmr_oracle_sql()
    # The five langs are pinned in sorted order: the two normalizing
    # sums must associate left-to-right exactly as python's sorted-key
    # iteration does (temperature_weights then normalized_weights), or
    # last-ulp drift can flip the exact md5 keep-decision boundary.
    oracles["doc_temperature_mix"] = """
        WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        tot AS (SELECT count(*) AS n FROM documents),
        pw AS (SELECT lang, pow(CAST(c AS DOUBLE), 0.5) AS p FROM cnt),
        t1 AS (SELECT (((((SELECT p FROM pw WHERE lang='de')
                      + (SELECT p FROM pw WHERE lang='en'))
                      + (SELECT p FROM pw WHERE lang='es'))
                      + (SELECT p FROM pw WHERE lang='fr'))
                      + (SELECT p FROM pw WHERE lang='zh')) AS s),
        w1 AS (SELECT lang, p / t1.s AS w FROM pw, t1),
        t2 AS (SELECT (((((SELECT w FROM w1 WHERE lang='de')
                      + (SELECT w FROM w1 WHERE lang='en'))
                      + (SELECT w FROM w1 WHERE lang='es'))
                      + (SELECT w FROM w1 WHERE lang='fr'))
                      + (SELECT w FROM w1 WHERE lang='zh')) AS s),
        w2 AS (SELECT lang, w / t2.s AS wt FROM w1, t2),
        f AS (
          SELECT cnt.lang,
                 w2.wt * CAST(tot.n AS DOUBLE) / CAST(cnt.c AS DOUBLE) AS factor
          FROM cnt JOIN w2 USING (lang), tot
        ),
        reps AS (
          SELECT d.doc_id, d.lang, f.factor, u.epoch
          FROM documents d JOIN f USING (lang),
               LATERAL (SELECT unnest(generate_series(
                   0, CAST(greatest(ceil(f.factor) - 1, 0) AS BIGINT))) AS epoch) u
        )
        SELECT doc_id, lang, CAST(epoch AS INT) AS epoch FROM reps
        WHERE epoch < floor(factor)
           OR CAST(concat('0x', substr(md5(concat_ws(':',
                CAST(doc_id AS VARCHAR), CAST(epoch AS VARCHAR), 'temp12')), 1, 8)) AS BIGINT)
              % 1000000 < (factor - floor(factor)) * 1000000
    """
    oracles["ts_changepoint"] = """
        WITH b AS (
          SELECT event_type AS etype,
                 CAST((epoch_ns(ts) // 1000) // 86400000000 AS DOUBLE) AS day,
                 round(avg(CAST(CAST(value AS FLOAT) AS DOUBLE)), 6) AS y
          FROM events GROUP BY 1, 2
        ),
        sc AS (
          SELECT etype, day, y,
                 row_number() OVER w AS i,
                 sum(y) OVER w AS s,
                 count(*) OVER (PARTITION BY etype) AS n,
                 sum(y) OVER (PARTITION BY etype) AS tot
          FROM b
          WINDOW w AS (PARTITION BY etype ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        d AS (
          SELECT *, abs(s - CAST(i AS DOUBLE) / n * tot) AS dd
          FROM sc WHERE n >= 2 AND i < n
        ),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY etype ORDER BY dd DESC, day) AS rr
          FROM d
        )
        SELECT etype, CAST(n AS BIGINT) AS n_points, day AS cp_day,
               round(dd, 6) AS d_stat,
               round(s / i, 6) AS mean_before,
               round((tot - s) / (n - i), 6) AS mean_after,
               round((tot - s) / (n - i) - s / i, 6) AS shift
        FROM r WHERE rr = 1
    """
    oracles["doc_weighted_sample"] = """
        WITH w AS (
            SELECT doc_id, n_chars,
                   ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'w12'), 1, 8)) AS BIGINT) + 1)
                      / 4294967296.0) / CAST(n_chars AS DOUBLE) AS wkey
            FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        )
        SELECT CAST(row_number() OVER (ORDER BY wkey DESC, doc_id) AS INTEGER) AS sample_order,
               doc_id, n_chars
        FROM w ORDER BY wkey DESC, doc_id LIMIT 25
    """
    oracles["q_interp_join"] = """
        WITH r AS (
            SELECT event_type AS etype, epoch_ns(ts) // 1000 AS t,
                   avg(value) AS v
            FROM events GROUP BY 1, 2
        ), spine AS (
            SELECT etype, t
            FROM (SELECT DISTINCT event_type AS etype FROM events)
            CROSS JOIN (
                SELECT 1704153600000000 + 21600000000 * i AS t
                FROM generate_series(0, 111) AS g(i)
            )
        ), u AS (
            SELECT etype, t, CAST(NULL AS DOUBLE) AS v, 1 AS side FROM spine
            UNION ALL
            SELECT etype, t, v, 0 AS side FROM r
        ), m AS (
            SELECT etype, t, side,
                   last_value(CASE WHEN side = 0 THEN v END IGNORE NULLS) OVER wp AS pv,
                   last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER wp AS pt,
                   first_value(CASE WHEN side = 0 THEN v END IGNORE NULLS) OVER wn AS nv,
                   first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER wn AS nt
            FROM u WINDOW
                wp AS (PARTITION BY etype ORDER BY t, side
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                wn AS (PARTITION BY etype ORDER BY t, side
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        ), it AS (
            SELECT etype,
                   CASE WHEN pt = t THEN pv
                        WHEN pt IS NULL OR nt IS NULL THEN NULL
                        ELSE pv + (nv - pv) * (t - pt) / (nt - pt)
                   END AS vi
            FROM m WHERE side = 1
        )
        SELECT etype, CAST(count(vi) AS BIGINT) AS n_interp,
               round(sum(vi), 2) AS total
        FROM it GROUP BY etype
    """
    oracles["q10_returned_items"] = """
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, n_name,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
               / 10000.0 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1996-04-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """
    oracles["q18_large_orders"] = """
        WITH big AS (
            SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING round(sum(l_quantity), 2) > 210
        )
        SELECT c_name, c_custkey, o_orderkey,
               CAST(o_orderdate AS VARCHAR) AS o_orderdate,
               round(o_totalprice, 2) AS o_totalprice, total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 50
    """
    oracles["ts_retention"] = """
        SELECT event_type AS etype, count(*) AS n,
               round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE)), 2) AS total,
               min(CAST(value AS FLOAT)) AS mn
        FROM events
        WHERE (epoch_ns(ts) // 1000) >= epoch_us(TIMESTAMP '2024-01-08')
        GROUP BY event_type
    """
    def _hex_int(expr: str, n: int) -> str:
        """DuckDB: first n hex chars of md5-expr -> BIGINT (no conv())."""
        return "(" + " + ".join(
            f"(strpos('0123456789abcdef', substr({expr}, {1 + j}, 1)) - 1) * {16 ** (n - 1 - j)}"
            for j in range(n)
        ) + ")"

    def _fake_emb_list(text_expr: str, dim: int = 8) -> str:
        parts = []
        for i in range(dim):
            md5_expr = "md5('" + str(i) + ":' || " + text_expr + ")"
            parts.append(
                f"CAST(CAST({_hex_int(md5_expr, 8)} / 4294967296.0 - 0.5 AS FLOAT) AS DOUBLE)"
            )
        return "[" + ", ".join(parts) + "]"

    oracles["doc_top_ngrams"] = r"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE trim(text) <> ''
        ), g AS (
          SELECT doc_id,
                 unnest(list_transform(range(0, len(t) - 1),
                        i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))) AS ngram
          FROM toks WHERE len(t) >= 2
        )
        SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM g GROUP BY ngram
        ORDER BY n_occurrences DESC, ngram
        LIMIT 20
    """
    oracles["doc_rag_pipeline"] = f"""
        WITH d AS (
          SELECT doc_id, text,
                 CAST(trunc(greatest((length(text) - 33) / 224.0, 0)) AS BIGINT) AS kk
          FROM documents
        ), ch AS (
          SELECT doc_id * 100000 + i AS vec_id,
                 substr(text, CAST(i * 224 + 1 AS INT), 256) AS ct
          FROM (SELECT doc_id, text, unnest(range(0, kk + 1)) AS i FROM d)
        ), e AS (
          SELECT vec_id,
                 {_fake_emb_list('ct')} AS v,
                 {_hex_int("md5(ct)", 4)} % 8 AS bucket
          FROM ch
        ), ex AS (
          SELECT bucket, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e
        ), cm AS (
          SELECT bucket, i, avg(x) AS m FROM ex GROUP BY 1, 2
        ), cent AS (
          SELECT bucket,
                 list_transform(list(CAST(m AS FLOAT) ORDER BY i),
                                x -> CAST(x AS DOUBLE)) AS cv
          FROM cm GROUP BY bucket
        ), q AS (
          SELECT doc_id AS query_id,
                 {_fake_emb_list('substr(text, 1, 100)')} AS qv
          FROM documents WHERE doc_id IN (10, 20, 30)
        ), pc AS (
          SELECT query_id, qv, bucket,
                 list_dot_product(qv, cv) /
                 (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS ccos
          FROM q CROSS JOIN cent
        ), pr AS (
          SELECT query_id, qv, bucket,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY ccos DESC, bucket) AS prn
          FROM pc
        ), probes AS (
          SELECT query_id, qv, bucket FROM pr WHERE prn <= 2
        ), scored AS (
          SELECT query_id, e.vec_id AS neighbor_id,
                 round(list_dot_product(qv, e.v) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
          FROM probes JOIN e USING (bucket)
          WHERE e.vec_id <> query_id
        ), ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5
    """

    est_expr = " + ".join(f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(16))
    oracles["dedup_index_check"] = (
        _SHINGLE_CTE
        + ", sig AS (SELECT doc_id, "
        + ", ".join(
        f"min((CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT)"
        f" + {i} * CAST('0x' || substr(md5(shingle), 8, 7) AS BIGINT))"
        f" % 2147483647) AS h{i}"
        for i in range(16)
    )
        + " FROM sh GROUP BY doc_id),\n    bands AS ("
        + " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, concat_ws('|', h{2 * b}, h{2 * b + 1}) AS bh FROM sig"
            for b in range(8)
        )
        + """),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM bands n JOIN bands o ON n.band = o.band AND n.bh = o.bh
        WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
    ),
    est AS (
        SELECT c.new_id, c.old_id,
               round(("""
        + est_expr
        + """) / 16.0, 6) AS ej
        FROM cand c JOIN sig a ON a.doc_id = c.new_id
                    JOIN sig b ON b.doc_id = c.old_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_hits,
           CAST(count(DISTINCT new_id) AS BIGINT) AS n_new_docs_matched,
           round(sum(ej), 4) AS est_total
    FROM est WHERE ej >= 0.5
    """
    )
    oracles["doc_quality_filter"] = f"""
        WITH d2 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || ' reach user' || doc_id || '@' || source
                           || '.org or 10.' || (doc_id % 256) || '.0.'
                           || (doc_id % 100) || ' ssn 123-45-6789'
                      ELSE text END AS text
          FROM documents
        ), sig AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok,
                 {', '.join(f"{expr} AS c_{lang}" for lang, expr in lang_counts.items())},
                 len(regexp_extract_all(text, '{_PII["email"]}'))
                 + len(regexp_extract_all(text, '{_PII["ssn"]}'))
                 + len(regexp_extract_all(text, '{_PII["phone"]}'))
                 + len(regexp_extract_all(text, '{_PII["ipv4"]}')) AS npii
          FROM d2
        ), v AS (
          SELECT doc_id,
                 ntok < 60 AS r_tok,
                 ({pred}) NOT IN ('en', 'de') AS r_lang,
                 npii > 0 AS r_pii
          FROM sig
        )
        SELECT 'too_few_tokens' AS reason,
               CAST(sum(CASE WHEN r_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_docs FROM v
        UNION ALL
        SELECT 'wrong_language',
               CAST(sum(CASE WHEN r_lang THEN 1 ELSE 0 END) AS BIGINT) FROM v
        UNION ALL
        SELECT 'pii', CAST(sum(CASE WHEN r_pii THEN 1 ELSE 0 END) AS BIGINT) FROM v
        UNION ALL
        SELECT 'kept',
               CAST(sum(CASE WHEN NOT r_tok AND NOT r_lang AND NOT r_pii
                             THEN 1 ELSE 0 END) AS BIGINT) FROM v
        UNION ALL
        SELECT 'total', count(*) FROM v
    """
    oracles["ts_seasonal"] = """
        WITH b AS (
          SELECT event_type AS etype,
                 (epoch_ns(ts) // 1000) // 3600000000 AS hb,
                 avg(CAST(CAST(value AS FLOAT) AS DOUBLE)) AS v
          FROM events GROUP BY 1, 2
        ), h AS (
          SELECT etype, hb, v, hb % 24 AS hod FROM b
        ), s AS (
          SELECT etype, hod, avg(v) AS mu, stddev_pop(v) AS sd, count(*) AS n
          FROM h GROUP BY 1, 2
        ), a AS (
          SELECT h.etype, round((h.v - mu) / sd, 4) AS zs
          FROM h JOIN s USING (etype, hod)
          WHERE n >= 3 AND sd > 0 AND abs((h.v - mu) / sd) > 2.5
        )
        SELECT etype, CAST(count(*) AS BIGINT) AS n_anomalies,
               round(sum(abs(zs)), 2) AS z_mass
        FROM a GROUP BY etype
    """
    oracles["q_json_props"] = """
        SELECT event_type,
               CAST(count(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS n,
               CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS total_k,
               round(avg(CAST(props->>'k' AS BIGINT)), 4) AS avg_k,
               CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
        FROM events GROUP BY event_type
    """
    oracles["ts_periodicity"] = """
        WITH b AS (
          SELECT event_type AS etype,
                 ((epoch_ns(ts) // 1000) // 3600000000) * 3600000000 AS t,
                 avg(CAST(CAST(value AS FLOAT) AS DOUBLE)) AS v
          FROM events GROUP BY 1, 2
        ), c AS (
          SELECT etype, t, v - avg(v) OVER (PARTITION BY etype) AS vc FROM b
        ), ex AS (
          SELECT etype, t, vc, unnest([21600000000, 43200000000,
                                       86400000000, 604800000000]) AS p
          FROM c
        ), agg AS (
          SELECT etype, p, count(*) AS n,
                 sum(vc * cos(2 * pi() * (t % p) / p)) AS cs,
                 sum(vc * sin(2 * pi() * (t % p) / p)) AS sn
          FROM ex GROUP BY 1, 2
        ), pw AS (
          SELECT etype, p, n, (cs * cs + sn * sn) / (n * n) AS power,
                 row_number() OVER (PARTITION BY etype
                                    ORDER BY (cs * cs + sn * sn) / (n * n) DESC, p) AS rn
          FROM agg
        )
        SELECT etype, CAST(p // 3600000000 AS BIGINT) AS period_hours,
               CAST(n AS BIGINT) AS n, round(power, 4) AS power
        FROM pw WHERE rn = 1
    """
    oracles["ts_trend"] = """
        WITH b AS (
          SELECT event_type AS etype,
                 CAST((epoch_ns(ts) // 1000) // 86400000000 AS DOUBLE) AS x,
                 avg(CAST(CAST(value AS FLOAT) AS DOUBLE)) AS y
          FROM events GROUP BY 1, 2
        )
        SELECT etype, CAST(count(*) AS BIGINT) AS n_buckets,
               round(regr_slope(y, x), 6) AS slope_per_day,
               round(regr_intercept(y, x), 4) AS intercept,
               round(regr_r2(y, x), 6) AS r2
        FROM b GROUP BY etype
    """
    oracles["q_funnel"] = """
        WITH t AS (
          SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus FROM events
        ), ty AS (
          SELECT event_type, row_number() OVER (ORDER BY event_type) AS rn
          FROM (SELECT DISTINCT event_type FROM events)
        ), ua AS (
          SELECT user_id, min(tus) AS ta FROM t
          WHERE event_type = (SELECT event_type FROM ty WHERE rn = 1)
          GROUP BY user_id
        ), ub AS (
          SELECT t.user_id, min(tus) AS tb FROM t JOIN ua USING (user_id)
          WHERE event_type = (SELECT event_type FROM ty WHERE rn = 2)
            AND tus > ta
          GROUP BY t.user_id
        ), uc AS (
          SELECT t.user_id, min(tus) AS tc FROM t JOIN ub USING (user_id)
          WHERE event_type = (SELECT event_type FROM ty WHERE rn = 3)
            AND tus > tb
          GROUP BY t.user_id
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM ua) AS did_a,
               (SELECT CAST(count(*) AS BIGINT) FROM ub) AS then_b,
               (SELECT CAST(count(*) AS BIGINT) FROM uc) AS then_c
    """
    oracles["ts_autocorr"] = """
        WITH b AS (
          SELECT event_type AS series,
                 (epoch_ns(ts) // 1000) // 86400000000 AS bucket,
                 avg(CAST(CAST(value AS FLOAT) AS DOUBLE)) AS v
          FROM events GROUP BY 1, 2
        )
        SELECT l.series, CAST(count(*) AS BIGINT) AS n_pairs,
               round(corr(l.v, r.v), 4) AS autocorr
        FROM b l JOIN b r ON l.series = r.series AND r.bucket = l.bucket + 1
        GROUP BY l.series
        HAVING count(*) >= 2
    """
    oracles["ts_rollup_retention"] = """
        SELECT event_type AS etype,
               count(*) FILTER (WHERE (epoch_ns(ts) // 1000)
                   < epoch_us(TIMESTAMP '2024-01-15')) AS n_old,
               round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE))
                   FILTER (WHERE (epoch_ns(ts) // 1000)
                       < epoch_us(TIMESTAMP '2024-01-15')), 2) AS old_total,
               count(*) FILTER (WHERE (epoch_ns(ts) // 1000)
                   >= epoch_us(TIMESTAMP '2024-01-15')) AS n_new,
               round(sum(CAST(CAST(value AS FLOAT) AS DOUBLE))
                   FILTER (WHERE (epoch_ns(ts) // 1000)
                       >= epoch_us(TIMESTAMP '2024-01-15')), 2) AS new_total
        FROM events GROUP BY event_type
    """
    oracles["doc_unigram_lm"] = r"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents WHERE trim(text) <> ''
        ), freq AS (
            SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
        ), tot AS (
            SELECT CAST(sum(cnt) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
            FROM freq
        ), doc AS (
            SELECT t.doc_id, count(*) AS n_tokens,
                   avg(ln((f.cnt + 1.0) / (tot.n + tot.v))) AS alp
            FROM tok t JOIN freq f USING (tok) CROSS JOIN tot
            GROUP BY t.doc_id
        )
        SELECT d.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc.n_tokens) AS BIGINT) AS total_tokens,
               round(avg(doc.alp), 4) AS avg_logprob
        FROM doc JOIN documents d USING (doc_id)
        GROUP BY d.lang
    """
    oracles["doc_clean_pipeline"] = r"""
        WITH staged AS (
          SELECT doc_id, lang,
                 CASE WHEN doc_id % 3 = 0
                      THEN ('SHARED HEADER' || chr(10) || substr(text, 1, 40)
                            || chr(10) || chr(10) || text || chr(10) || 'footer ' || lang)
                           || ' reach user' || doc_id || '@' || source
                           || '.org or 10.' || (doc_id % 256) || '.0.'
                           || (doc_id % 100) || ' ssn 123-45-6789'
                      ELSE 'SHARED HEADER' || chr(10) || substr(text, 1, 40)
                           || chr(10) || chr(10) || text || chr(10) || 'footer ' || lang
                 END AS text
          FROM documents
        ),
        ex AS (
          SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
                 generate_subscripts(string_split(text, chr(10)), 1) AS line_no
          FROM staged
        ),
        normed AS (SELECT *, lower(regexp_replace(trim(line), '\s+', ' ', 'g')) AS norm FROM ex),
        common AS (
          SELECT norm FROM normed WHERE norm <> ''
          GROUP BY norm HAVING count(DISTINCT doc_id) >= 2
        ),
        lined AS (
          SELECT doc_id,
                 coalesce(string_agg(line, chr(10) ORDER BY line_no)
                          FILTER (WHERE norm NOT IN (SELECT norm FROM common)), '') AS text
          FROM normed GROUP BY doc_id
        ),
        red AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                     text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                     '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS text
          FROM lined
        ),
        toks AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(text), '\s+') END AS t
          FROM red
        ),
        sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
        grams AS (
          SELECT s.doc_id, pos.p AS pos,
                 md5(array_to_string(s.t[pos.p + 1 : pos.p + 10], ' ')) AS gram
          FROM (SELECT * FROM sized WHERE n >= 10) s
          JOIN (SELECT unnest(range(0, (SELECT COALESCE(max(n),0) FROM sized))) AS p) pos
            ON pos.p <= s.n - 10
        ),
        dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        hits AS (SELECT g.doc_id, g.pos AS lo, g.pos + 10 AS hi FROM grams g JOIN dup USING (gram)),
        tok_rows AS (
          SELECT s.doc_id, pos.p AS p, s.t[pos.p + 1] AS tok
          FROM sized s
          JOIN (SELECT unnest(range(0, (SELECT COALESCE(max(n),0) FROM sized))) AS p) pos
            ON pos.p < s.n
        ),
        kept_toks AS (
          SELECT tr.doc_id, tr.p, tr.tok FROM tok_rows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM hits h WHERE h.doc_id = tr.doc_id AND tr.p >= h.lo AND tr.p < h.hi
          )
        ),
        rebuilt AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS new_text, count(*) AS n_kept
          FROM kept_toks GROUP BY doc_id
        )
        SELECT s.doc_id, d.lang, md5(COALESCE(r.new_text, '')) AS text_md5,
               CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_tokens
        FROM sized s
        LEFT JOIN rebuilt r USING (doc_id)
        JOIN documents d ON d.doc_id = s.doc_id
        WHERE COALESCE(r.n_kept, 0) >= 30
    """
    oracles["doc_span_cleaned"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(text), '\s+') END AS t
          FROM documents
        ),
        sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
        grams AS (
          SELECT s.doc_id, pos.p AS pos,
                 md5(array_to_string(s.t[pos.p + 1 : pos.p + 10], ' ')) AS gram
          FROM (SELECT * FROM sized WHERE n >= 10) s
          JOIN (SELECT unnest(range(0, (SELECT COALESCE(max(n),0) FROM sized))) AS p) pos
            ON pos.p <= s.n - 10
        ),
        dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        hits AS (SELECT g.doc_id, g.pos AS lo, g.pos + 10 AS hi FROM grams g JOIN dup USING (gram)),
        tok_rows AS (
          SELECT s.doc_id, pos.p AS p, s.t[pos.p + 1] AS tok
          FROM sized s
          JOIN (SELECT unnest(range(0, (SELECT COALESCE(max(n),0) FROM sized))) AS p) pos
            ON pos.p < s.n
        ),
        kept AS (
          SELECT tr.doc_id, tr.p, tr.tok
          FROM tok_rows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM hits h WHERE h.doc_id = tr.doc_id AND tr.p >= h.lo AND tr.p < h.hi
          )
        ),
        rebuilt AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS new_text, count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT s.doc_id,
               md5(COALESCE(r.new_text, '')) AS text_md5,
               CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_tokens_kept,
               CAST(s.n - COALESCE(r.n_kept, 0) AS BIGINT) AS n_tokens_removed
        FROM sized s LEFT JOIN rebuilt r USING (doc_id)
    """
    oracles["q_interval_join"] = """
        WITH iv AS (
          SELECT event_id, user_id, event_type AS etype,
                 epoch_ns(ts) // 1000 AS start_us,
                 (epoch_ns(ts) // 1000) + CAST(floor(value * 1000000) AS BIGINT) + 1 AS end_us
          FROM events
        ),
        l AS (SELECT * FROM iv WHERE user_id % 2 = 0),
        r AS (SELECT * FROM iv WHERE user_id % 2 = 1)
        SELECT l.etype AS l_etype, r.etype AS r_etype,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(l.event_id + r.event_id) AS BIGINT) AS id_sum
        FROM l JOIN r ON l.start_us < r.end_us AND r.start_us < l.end_us
        GROUP BY l.etype, r.etype
    """
    oracles["doc_span_dedup"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(text), '\s+') END AS t
          FROM documents
        ),
        sized AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 10),
        pos AS (SELECT unnest(range(0, (SELECT max(n) FROM sized))) AS p),
        occ AS (
          SELECT s.doc_id, pos.p AS pos,
                 md5(array_to_string(s.t[pos.p + 1 : pos.p + 10], ' ')) AS gram
          FROM sized s JOIN pos ON pos.p <= s.n - 10
        ),
        dup AS (
          SELECT gram FROM occ GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        ),
        hits AS (
          SELECT o.doc_id, o.pos AS lo, o.pos + 10 AS hi
          FROM occ o JOIN dup USING (gram)
        ),
        marked AS (
          SELECT doc_id, lo, hi,
                 CASE WHEN max(hi) OVER (PARTITION BY doc_id ORDER BY lo, hi
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                      OR lo > max(hi) OVER (PARTITION BY doc_id ORDER BY lo, hi
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      THEN 1 ELSE 0 END AS new_island
          FROM hits
        ),
        islands AS (
          SELECT doc_id, lo, hi,
                 SUM(new_island) OVER (PARTITION BY doc_id ORDER BY lo, hi
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 0 FOLLOWING) AS island
          FROM marked
        )
        SELECT doc_id, CAST(min(lo) AS BIGINT) AS span_start,
               CAST(max(hi) AS BIGINT) AS span_end
        FROM islands GROUP BY doc_id, island
    """
    oracles["doc_pack_sequences"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END AS n
          FROM documents
        ),
        nz AS (SELECT doc_id, CAST(n AS BIGINT) AS n FROM toks WHERE n > 0),
        placed AS (
          SELECT doc_id, n,
                 CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS s
          FROM nz
        ),
        spans AS (
          SELECT doc_id, n, s,
                 unnest(range(s // 512, (s + n - 1) // 512 + 1)) AS seq_id
          FROM placed
        )
        SELECT doc_id,
               seq_id,
               GREATEST(seq_id*512, s) - s AS doc_token_start,
               LEAST((seq_id+1)*512, s+n) - s AS doc_token_end,
               GREATEST(seq_id*512, s) - seq_id*512 AS seq_token_start,
               LEAST((seq_id+1)*512, s+n) - GREATEST(seq_id*512, s) AS n_tokens
        FROM spans
    """
    oracles["doc_stratified_sample"] = """
        WITH kept AS (
          SELECT * FROM documents
          WHERE (CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'mix')), 1, 8)) AS BIGINT) % 1000000)
                < CAST((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0 ELSE 0.25 END) * 1000000 AS BIGINT)
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS kept_chars,
               min(doc_id) AS first_id
        FROM kept GROUP BY lang
    """
    # Inject the SAME normalized double literals the Spark plan uses
    # (mixing.normalized_weights is the single normalization site;
    # repr() round-trips doubles exactly), and the same left-to-right
    # double op order — raw DECIMAL weights divided in-engine can differ
    # in the last ulp and flip hash-boundary keep decisions at scale.
    from modelardb_rs_spark.operators.mixing import normalized_weights

    _mix_w = normalized_weights({"src0": 0.6, "src1": 0.3, "src2": 0.1})
    _mix_vals = ", ".join(
        f"('{k}', CAST({v!r} AS DOUBLE))" for k, v in _mix_w.items()
    )
    oracles["doc_domain_mix"] = f"""
        WITH cnt AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
        tot AS (SELECT count(*) AS n FROM documents),
        w(source, wt) AS (VALUES {_mix_vals}),
        f AS (
          SELECT cnt.source,
                 w.wt * CAST(tot.n AS DOUBLE) / CAST(cnt.c AS DOUBLE) AS factor
          FROM cnt JOIN w USING (source), tot
        ),
        reps AS (
          SELECT d.doc_id, d.source, f.factor, u.epoch
          FROM documents d JOIN f USING (source),
               LATERAL (SELECT unnest(generate_series(
                   0, CAST(greatest(ceil(f.factor) - 1, 0) AS BIGINT))) AS epoch) u
        )
        SELECT doc_id, source, CAST(epoch AS INT) AS epoch FROM reps
        WHERE epoch < floor(factor)
           OR CAST(concat('0x', substr(md5(concat_ws(':',
                CAST(doc_id AS VARCHAR), CAST(epoch AS VARCHAR), 'mix5')), 1, 8)) AS BIGINT)
              % 1000000 < (factor - floor(factor)) * 1000000
    """
    oracles["doc_shuffle_shards"] = """
        WITH t AS (
          SELECT doc_id,
                 CAST(CAST(concat('0x', substr(md5(concat_ws(':',
                     CAST(doc_id AS VARCHAR), 's5')), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
                 md5(concat(CAST(doc_id AS VARCHAR), 's5')) AS k
          FROM documents
        )
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1 AS INT) AS pos
        FROM t
    """
    # Order-INDEPENDENT float reductions: the dot products reduce
    # dim-ordered lists left-to-right via list_reduce — the exact
    # sequential order Spark's F.aggregate uses (0.0 + t0 == t0 in
    # doubles) — instead of a grouped sum() whose addition order
    # DuckDB's parallel hash aggregate is free to permute.
    oracles["sim_int8_quantize"] = """
        WITH ex AS (
          SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                 unnest(embedding) AS x
          FROM embeddings
        ),
        sc AS (SELECT dim, max(abs(x)) / 127.0 AS scale FROM ex GROUP BY dim),
        dq AS (
          SELECT vec_id, dim, x,
                 CASE WHEN scale > 0
                      THEN greatest(-127.0, least(127.0, round(x / scale, 0))) * scale
                      ELSE 0.0 END AS y
          FROM ex JOIN sc USING (dim)
        ),
        v AS (
          SELECT vec_id,
                 list(abs(x - y) ORDER BY dim) AS errs,
                 list(CAST(x AS DOUBLE) * y ORDER BY dim) AS xy,
                 list(CAST(x AS DOUBLE) * x ORDER BY dim) AS xx,
                 list(y * y ORDER BY dim) AS yy
          FROM dq GROUP BY vec_id
        )
        SELECT vec_id, round(list_max(errs), 6) AS max_abs_err,
               round(list_reduce(xy, (a, b) -> a + b)
                     / (sqrt(list_reduce(xx, (a, b) -> a + b))
                        * sqrt(list_reduce(yy, (a, b) -> a + b))), 6)
                 AS cos_to_original
        FROM v
    """
    # the planted 1.001-scaled copies (cosine exactly 1, co-clustered by
    # construction) are precisely the dropped set, so the kept corpus is
    # exactly the original embeddings table
    oracles["sim_semantic_dedup"] = """
        SELECT vec_id FROM embeddings ORDER BY vec_id
    """
    # chunked hot-bucket plan is value-identical by construction
    oracles["sim_semantic_dedup_chunked"] = oracles["sim_semantic_dedup"]
    oracles["sim_semantic_dedup_auto"] = oracles["sim_semantic_dedup"]
    # nprobe=2 widens the EXAMINED pair set only; the qualifying pairs
    # (cosine exactly 1) and therefore the kept set are unchanged
    oracles["sim_semantic_dedup_multiprobe"] = """
        SELECT vec_id FROM embeddings ORDER BY vec_id
    """
    # collapse_exact variant: the byte-identical family collapses to its
    # representative (vec 3, the minimum id) and the scaled copies drop
    # on the semantic path — kept is again exactly the originals
    oracles["sim_semantic_dedup_collapsed"] = """
        SELECT vec_id FROM embeddings ORDER BY vec_id
    """
    # closed-form indicators: all vectors + the one epoch-2 copy land
    # exactly once (the replayed epoch is a no-op), and the cos-1 copy
    # is probeable
    oracles["stream_vector_ingest"] = """
        SELECT count(*) + 1 AS n_vectors,
               CAST(0 AS BIGINT) AS replay_appended,
               CAST(1 AS BIGINT) AS replayed,
               CAST(1 AS BIGINT) AS copy_found
        FROM embeddings
    """
    # whole-chain train-prep oracle: gate → dedup → mix (same normalized
    # double literals as the Spark plan) → shard shuffle → 256-token pack,
    # composed in one statement; 1099511627776 = 1<<40 (the pack_id shard
    # stride)
    _train_w = normalized_weights({"src0": 0.5, "src1": 0.3, "src2": 0.2})
    _train_vals = ", ".join(
        f"('{k}', CAST({v!r} AS DOUBLE))" for k, v in _train_w.items()
    )
    oracles["doc_train_pipeline"] = rf"""
        WITH toks AS (
          SELECT doc_id, source, text,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
          FROM documents
        ),
        gated AS (SELECT * FROM toks WHERE n_tok >= 20),
        deduped AS (
          SELECT doc_id, source, n_tok FROM (
            SELECT *, row_number() OVER (
                PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                ORDER BY doc_id) AS rn
            FROM gated) WHERE rn = 1
        ),
        cnt AS (SELECT source, count(*) AS c FROM deduped GROUP BY source),
        tot AS (SELECT count(*) AS n FROM deduped),
        w(source, wt) AS (VALUES {_train_vals}),
        f AS (
          SELECT cnt.source,
                 w.wt * CAST(tot.n AS DOUBLE) / CAST(cnt.c AS DOUBLE) AS factor
          FROM cnt JOIN w USING (source), tot
        ),
        reps AS (
          SELECT d.doc_id, d.n_tok, f.factor, u.epoch
          FROM deduped d JOIN f USING (source),
               LATERAL (SELECT unnest(generate_series(
                   0, CAST(greatest(ceil(f.factor) - 1, 0) AS BIGINT))) AS epoch) u
        ),
        mixed AS (
          SELECT doc_id, n_tok, CAST(epoch AS INT) AS epoch FROM reps
          WHERE epoch < floor(factor)
             OR CAST(concat('0x', substr(md5(concat_ws(':',
                  CAST(doc_id AS VARCHAR), CAST(epoch AS VARCHAR), 'train7')), 1, 8)) AS BIGINT)
                % 1000000 < (factor - floor(factor)) * 1000000
        ),
        rep AS (SELECT *, doc_id * 64 + epoch AS rep_id FROM mixed),
        positioned AS (
          SELECT *, row_number() OVER (PARTITION BY shard ORDER BY k, rep_id) - 1 AS pos
          FROM (
            SELECT *,
                   CAST(CAST(concat('0x', substr(md5(concat_ws(':',
                       CAST(rep_id AS VARCHAR), 'train7')), 1, 8)) AS BIGINT) % 4 AS INT) AS shard,
                   md5(concat(CAST(rep_id AS VARCHAR), 'train7')) AS k
            FROM rep)
        ),
        nz AS (
          SELECT doc_id, epoch, shard,
                 CAST(shard AS BIGINT) * 1099511627776 + pos AS pack_id,
                 CAST(n_tok AS BIGINT) AS n
          FROM positioned WHERE n_tok > 0
        ),
        placed AS (
          SELECT *, CAST(COALESCE(SUM(n) OVER (ORDER BY pack_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
          FROM nz
        ),
        spans AS (
          SELECT *, unnest(range(s // 256, (s + n - 1) // 256 + 1)) AS seq_id
          FROM placed
        )
        SELECT doc_id, epoch, shard, seq_id,
               GREATEST(seq_id*256, s) - s AS doc_token_start,
               LEAST((seq_id+1)*256, s+n) - s AS doc_token_end,
               GREATEST(seq_id*256, s) - seq_id*256 AS seq_token_start,
               LEAST((seq_id+1)*256, s+n) - GREATEST(seq_id*256, s) AS n_tokens
        FROM spans
    """
    # BPE oracles: DuckDB cannot run a merge loop, so the expected values
    # are LITERALS pinned by the slow reference encoder
    # (operators/bpe.py::reference_encode, sequential merge application)
    # at vocab-training time (scripts/train_bpe_vocab.py). The Spark side
    # uses the independent rank-greedy fast encoder — every correctness
    # run is therefore a cross-implementation check of counts, the exact
    # token-id sequence (md5 covers ids AND order), and losslessness.
    from modelardb_rs_spark.resources.bpe_pins import PINS

    _bpe_enc_vals = ", ".join(f"({d}, {n}, '{h}')" for d, n, h in PINS)
    oracles["doc_bpe_encode"] = f"""
        SELECT doc_id, CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
               ids_md5, TRUE AS roundtrip_ok
        FROM (VALUES {_bpe_enc_vals}) AS t(doc_id, n_bpe_tokens, ids_md5)
    """
    _bpe_cnt_vals = ", ".join(f"({d}, {n})" for d, n, _ in PINS)
    oracles["doc_train_pipeline_bpe"] = rf"""
        WITH bpe(doc_id, n_tok) AS (VALUES {_bpe_cnt_vals}),
        toks AS (
          SELECT d.doc_id, d.source, d.text, CAST(b.n_tok AS BIGINT) AS n_tok
          FROM documents d JOIN bpe b USING (doc_id)
        ),
        gated AS (SELECT * FROM toks WHERE n_tok >= 30),
        deduped AS (
          SELECT doc_id, source, n_tok FROM (
            SELECT *, row_number() OVER (
                PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                ORDER BY doc_id) AS rn
            FROM gated) WHERE rn = 1
        ),
        cnt AS (SELECT source, count(*) AS c FROM deduped GROUP BY source),
        tot AS (SELECT count(*) AS n FROM deduped),
        w(source, wt) AS (VALUES {_train_vals}),
        f AS (
          SELECT cnt.source,
                 w.wt * CAST(tot.n AS DOUBLE) / CAST(cnt.c AS DOUBLE) AS factor
          FROM cnt JOIN w USING (source), tot
        ),
        reps AS (
          SELECT d.doc_id, d.n_tok, f.factor, u.epoch
          FROM deduped d JOIN f USING (source),
               LATERAL (SELECT unnest(generate_series(
                   0, CAST(greatest(ceil(f.factor) - 1, 0) AS BIGINT))) AS epoch) u
        ),
        mixed AS (
          SELECT doc_id, n_tok, CAST(epoch AS INT) AS epoch FROM reps
          WHERE epoch < floor(factor)
             OR CAST(concat('0x', substr(md5(concat_ws(':',
                  CAST(doc_id AS VARCHAR), CAST(epoch AS VARCHAR), 'train8')), 1, 8)) AS BIGINT)
                % 1000000 < (factor - floor(factor)) * 1000000
        ),
        rep AS (SELECT *, doc_id * 64 + epoch AS rep_id FROM mixed),
        positioned AS (
          SELECT *, row_number() OVER (PARTITION BY shard ORDER BY k, rep_id) - 1 AS pos
          FROM (
            SELECT *,
                   CAST(CAST(concat('0x', substr(md5(concat_ws(':',
                       CAST(rep_id AS VARCHAR), 'train8')), 1, 8)) AS BIGINT) % 4 AS INT) AS shard,
                   md5(concat(CAST(rep_id AS VARCHAR), 'train8')) AS k
            FROM rep)
        ),
        nz AS (
          SELECT doc_id, epoch, shard,
                 CAST(shard AS BIGINT) * 1099511627776 + pos AS pack_id,
                 CAST(n_tok AS BIGINT) AS n
          FROM positioned WHERE n_tok > 0
        ),
        placed AS (
          SELECT *, CAST(COALESCE(SUM(n) OVER (ORDER BY pack_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
          FROM nz
        ),
        spans AS (
          SELECT *, unnest(range(s // 256, (s + n - 1) // 256 + 1)) AS seq_id
          FROM placed
        )
        SELECT doc_id, epoch, shard, seq_id,
               GREATEST(seq_id*256, s) - s AS doc_token_start,
               LEAST((seq_id+1)*256, s+n) - s AS doc_token_end,
               GREATEST(seq_id*256, s) - seq_id*256 AS seq_token_start,
               LEAST((seq_id+1)*256, s+n) - GREATEST(seq_id*256, s) AS n_tokens
        FROM spans
    """
    # materialized training sequences: the doc_train_pipeline_bpe chain
    # replayed over FULL token-id list literals (pinned by the reference
    # encoder), then each sequence assembled with list_slice in
    # seq_token_start order — the md5 matches Spark's only if every
    # token id, span boundary, and within-sequence order agree.
    from modelardb_rs_spark.resources.bpe_ids import IDS

    _bpe_id_vals = ", ".join(
        "({}, [{}])".format(d, ",".join(map(str, ids))) for d, ids in IDS
    )
    _chain = oracles["doc_train_pipeline_bpe"]
    _chain_body = _chain[: _chain.rindex("SELECT doc_id, epoch, shard, seq_id")]
    _chain_body = _chain_body.replace(
        f"WITH bpe(doc_id, n_tok) AS (VALUES {_bpe_cnt_vals}),",
        f"WITH bpeids(doc_id, ids) AS (VALUES {_bpe_id_vals}),\n"
        "        bpe AS (SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tok FROM bpeids),",
        1,
    )
    oracles["doc_train_sequences"] = (
        _chain_body
        + """
        SELECT seq_id,
               CAST(len(token_ids) AS BIGINT) AS seq_len,
               md5(array_to_string(token_ids, ',')) AS ids_md5
        FROM (
          SELECT seq_id,
                 flatten(list(
                   list_slice(b.ids,
                              GREATEST(seq_id*256, s) - s + 1,
                              LEAST((seq_id+1)*256, s+n) - s)
                   ORDER BY GREATEST(seq_id*256, s) - seq_id*256
                 )) AS token_ids
          FROM spans JOIN bpeids b USING (doc_id)
          GROUP BY seq_id
        )
    """
    )
    # training-shard export manifest: the same chain, then the
    # contiguous-split shard assignment (seq_id * 4) // N, the per-file
    # split (seq_id - ceil(shard*N/4)) // 8, and every manifest column
    # (counts, seq-id range, order-sensitive digest over (seq_id,
    # md5(ids)) pairs) recomputed over the pinned literals with EXACT
    # integer arithmetic — the Spark side reads them back from the
    # exported parquet, so the compare verifies the files a trainer
    # would actually stream, per file.
    oracles["doc_train_export"] = (
        _chain_body
        + """
        , seqs AS (
          SELECT seq_id,
                 CAST(len(token_ids) AS BIGINT) AS seq_len,
                 md5(array_to_string(token_ids, ',')) AS ids_md5
          FROM (
            SELECT seq_id,
                   flatten(list(
                     list_slice(b.ids,
                                GREATEST(seq_id*256, s) - s + 1,
                                LEAST((seq_id+1)*256, s+n) - s)
                     ORDER BY GREATEST(seq_id*256, s) - seq_id*256
                   )) AS token_ids
            FROM spans JOIN bpeids b USING (doc_id)
            GROUP BY seq_id
          )
        ),
        nseq_t AS (SELECT max(seq_id) + 1 AS nseq FROM seqs),
        sh_placed AS (
          SELECT seq_id, seq_len, ids_md5,
                 CAST(seq_id * 4 // nseq AS INT) AS shard, nseq
          FROM seqs, nseq_t
        ),
        sh_filed AS (
          SELECT *,
                 CAST((seq_id - (CAST(shard AS BIGINT) * nseq + 3) // 4)
                      // 8 AS INT) AS file_seq
          FROM sh_placed
        )
        SELECT shard, file_seq,
               count(*) AS n_sequences,
               CAST(sum(seq_len) AS BIGINT) AS n_tokens,
               min(seq_id) AS first_seq_id,
               max(seq_id) AS last_seq_id,
               md5(string_agg(
                 CAST(seq_id AS VARCHAR) || ':' || ids_md5,
                 ',' ORDER BY seq_id)) AS file_md5
        FROM sh_filed
        GROUP BY 1, 2
        ORDER BY 1, 2
    """
    )
    # index-stats oracle: recompute the per-label float32 centroids, each
    # appended vector's argmax-cosine bucket, the bucket histogram, and
    # the max centroid drift — all from the base table. Dot products run
    # in dimension order on both engines (bit-identical given identical
    # inputs); only the centroid/mean AVGs sum in engine-specific row
    # order, so drift is rounded to 4 (disagreement there is ~1e-12).
    oracles["sim_index_stats"] = """
        WITH base AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        centd AS (
          SELECT label, i, avg(x) AS m
          FROM (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i
                FROM base)
          GROUP BY label, i
        ),
        cent AS (
          SELECT label, list(CAST(m AS REAL) ORDER BY i) AS c
          FROM centd GROUP BY label
        ),
        app AS (
          SELECT vec_id + 1000000 AS vec_id,
                 list_transform(embedding,
                     x -> CAST(CAST(CAST(x AS DOUBLE) * 1.5 AS REAL) AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id >= 450
        ),
        scored AS (
          SELECT a.vec_id, c.label, a.v,
                 list_sum(list_transform(range(1, len(a.v) + 1),
                     j -> a.v[j] * CAST(c.c[j] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                    * sqrt(list_sum(list_transform(c.c,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
          FROM app a, cent c
        ),
        assigned AS (
          SELECT vec_id, label, v FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, label) AS rn
            FROM scored) WHERE rn = 1
        ),
        allv AS (
          SELECT label, v FROM base
          UNION ALL SELECT label, v FROM assigned
        ),
        sizes AS (SELECT label, count(*) AS n FROM allv GROUP BY label),
        hist AS (
          SELECT min(n) AS bmin, max(n) AS bmax,
                 (SELECT n FROM (SELECT n, row_number() OVER (ORDER BY n) AS rn
                                 FROM sizes)
                  WHERE rn = (SELECT count(*) // 2 + 1 FROM sizes)) AS bp50
          FROM sizes
        ),
        curmean AS (
          SELECT label, i, avg(x) AS m
          FROM (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i
                FROM allv)
          GROUP BY label, i
        ),
        curc AS (SELECT label, list(m ORDER BY i) AS cm FROM curmean GROUP BY label),
        drift AS (
          SELECT max(1.0 - list_sum(list_transform(range(1, len(cm) + 1),
                     j -> cm[j] * CAST(c.c[j] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(cm, x -> x * x)))
                    * sqrt(list_sum(list_transform(c.c,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) AS d
          FROM curc JOIN cent c USING (label)
        )
        SELECT (SELECT count(*) FROM cent) AS n_buckets,
               (SELECT count(*) FROM base) AS built_vectors,
               (SELECT count(*) FROM allv) AS current_vectors,
               round(CAST((SELECT count(*) FROM assigned) AS DOUBLE)
                     / (SELECT count(*) FROM allv), 4) AS appended_fraction,
               hist.bmin AS bucket_min, hist.bp50 AS bucket_p50,
               hist.bmax AS bucket_max,
               round((SELECT d FROM drift), 4) AS max_drift
        FROM hist
    """
    # maintenance-policy oracle: the deterministic decision surface —
    # no-op on a fresh index, trip at the exact appended fraction the
    # stats report, counts before/after the rebuild, fraction 0 after,
    # replay-safe rerun — all recomputed from the base table with exact
    # arithmetic (the rebuilt kmeans geometry itself is pytest-verified
    # via planted-pair recall, not SQL-expressible).
    oracles["sim_index_maintenance"] = """
        WITH n_t AS (SELECT count(*) AS n FROM embeddings),
        a_t AS (SELECT count(*) AS a FROM embeddings WHERE vec_id >= 450)
        SELECT CAST(0 AS BIGINT) AS noop_rebuilt,
               CAST(1 AS BIGINT) AS rebuilt,
               round(CAST(a AS DOUBLE) / (n + a), 4) AS tripped_fraction,
               CAST(n + a AS BIGINT) AS vectors_at_trip,
               CAST(n + a AS BIGINT) AS vectors_after,
               CAST(0.0 AS DOUBLE) AS fraction_after,
               CAST(0 AS BIGINT) AS rerun_rebuilt
        FROM n_t, a_t
    """
    return oracles
