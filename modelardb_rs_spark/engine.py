"""Engine — the library API surface (the reference's embedded
``Operations`` trait, crates/modelardb_embedded/src/operations/mod.rs:66-148,
and the SQL entry point of ``modelardb_storage::execute_statement``,
crates/modelardb_storage/src/lib.rs:143-155).

A user of the reference maps almost 1:1:

    Operations::create(table, kind)   -> Engine.create_table / create_time_series_table / read_sql(DDL)
    Operations::tables/schema         -> Engine.tables / Engine.schema
    Operations::write(table, batch)   -> Engine.write(table, df | pa.Table)
    Operations::read(sql)             -> Engine.read_sql(sql)
    Operations::read_time_series_table(...) -> Engine.read_time_series_table(...)
    Operations::copy/move             -> Engine.copy / Engine.move
    truncate/drop/vacuum              -> Engine.truncate / drop / vacuum (also as SQL)

Query semantics for time series tables: ``read_sql`` parses a query
once with Spark's own parser (plans/sql.py), registers each table the
query reads as a temp view — normal tables directly, time series tables
as the *gridded* reconstruction view (operators/grid.py) — then
delegates to ``spark.sql`` (the full inherited SQL surface, like the
reference inherits DataFusion's). Before delegating, the model-based
aggregate rewrite (operators/aggregates.py) intercepts simple
aggregates over one time series table, matched on the parsed plan like
the reference's ``ModelSimpleAggregates`` physical rule — implemented as
an API-level query rewrite because pure PySpark cannot register Catalyst
physical rules (SURVEY.md §4.1).
"""

from __future__ import annotations

import datetime
import os
import re

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from modelardb_rs_spark.catalog import Catalog
from modelardb_rs_spark.frames import arrow_frame, rows_frame
from modelardb_rs_spark.operators import aggregates as agg_ops
from modelardb_rs_spark.operators import compress as compress_ops
from modelardb_rs_spark.operators import grid as grid_ops
from modelardb_rs_spark.parser import ModelarStatement, parse_statement
from modelardb_rs_spark.plans import sql as sql_plan
from modelardb_rs_spark.plans.stats import plan_size_bytes
from modelardb_rs_spark.sources.datafolder import DataFolder
from modelardb_rs_spark.types import TableKind, TimeSeriesTableMetadata

# Inputs whose Catalyst size estimate is under this are cached across the
# compressor's range-partition sample pass + main pass (see write()).
_CACHE_WRITE_INPUT_LIMIT = 4 << 30


def _normalize_fs_path(uri: str | None) -> str | None:
    """Normalize a path/URI to ``netloc+path`` with no trailing slash so
    ``file:/a/b``, ``file:///a/b`` and ``/a/b`` compare equal (Spark's
    getCheckpointDir returns a resolved URI; FileInfo.path may not)."""
    if not uri:
        return None
    from urllib.parse import urlparse

    p = urlparse(uri)
    return (p.netloc + p.path).rstrip("/")


def _to_us(t) -> int | None:
    """Accept epoch-µs ints, datetimes, or ISO strings."""
    if t is None:
        return None
    if isinstance(t, (int,)):
        return t
    if isinstance(t, str):
        t = datetime.datetime.fromisoformat(t)
    if isinstance(t, datetime.datetime):
        if t.tzinfo is None:
            t = t.replace(tzinfo=datetime.timezone.utc)
        return int(t.timestamp() * 1_000_000)
    raise TypeError(f"cannot interpret {t!r} as a timestamp")


_INTERVAL_UNITS_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 7 * 86_400_000_000,
}


def _view_constraints(
    preds: tuple[sql_plan.Pred, ...], meta, utc: bool
) -> tuple[int | None, int | None, dict, list[tuple[str, str, float]]]:
    """(start_us, end_us, tag equalities, field value comparisons) that
    WHERE conjuncts imply for ``meta``'s table. Timestamp bounds count
    only under a UTC session (TIMESTAMP literals are session-zone)."""
    start_us = end_us = None
    tags: dict[str, str] = {}
    vals: list[tuple[str, str, float]] = []
    ts_col = meta.timestamp_column.lower()
    tag_cols = {t.lower(): t for t in meta.tag_columns}
    field_cols = {f.lower(): f for f in meta.field_names}
    for p in preds:
        col = p.column.lower()
        if p.kind == "timestamp" and col == ts_col and utc:
            if p.op == ">=":
                start_us = p.value if start_us is None else max(start_us, p.value)
            else:
                end_us = p.value if end_us is None else min(end_us, p.value)
        elif p.kind == "string" and col in tag_cols:
            tags[tag_cols[col]] = p.value
        elif p.kind == "number" and col in field_cols:
            vals.append((field_cols[col], p.op, p.value))
    return start_us, end_us, tags, vals


def _contiguous_ranges(bucket_starts_us: list[int], every_us: int):
    """Merge sorted bucket-start timestamps into [lo, hi] runs of
    adjacent buckets (hi = last bucket's start)."""
    runs: list[tuple[int, int]] = []
    for b in sorted(bucket_starts_us):
        if runs and b == runs[-1][1] + every_us:
            runs[-1] = (runs[-1][0], b)
        else:
            runs.append((b, b))
    return runs


def _interval_us(every) -> int:
    """Accept a bucket width as µs int or an interval string ('15 minutes',
    '1 hour', '1 day')."""
    if isinstance(every, int):
        return every
    m = re.fullmatch(
        r"\s*(\d+)\s*(microsecond|millisecond|second|minute|hour|day|week)s?\s*",
        str(every),
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot interpret {every!r} as a bucket width")
    return int(m.group(1)) * _INTERVAL_UNITS_US[m.group(2).lower()]


# The simple aggregates the model-based rewrite answers from segment stats.
_AGG_FUNCS = frozenset(
    "count min max sum avg var_pop var_samp variance stddev_pop stddev_samp stddev".split()
)
_EDGE_FUNCS = frozenset({"max_by", "min_by"})  # (field, ts): the last()/first() idiom
_COUNT_STAR = sql_plan.Lit("1", "integer")  # Spark parses count(*) as count(1)
_WEEK_US = _INTERVAL_UNITS_US["week"]
_MONDAY_ORIGIN_US = 4 * 86_400_000_000  # 1970-01-05, the first epoch Monday


def _bucket_us_of(expr, ts_col: str) -> tuple[int, int, str] | None:
    """(bucket width µs, origin µs, kind) if ``expr`` is a fixed-width
    ``time_bucket('15 minutes', ts)`` or ``date_trunc('hour', ts)``,
    else None: calendar units have no fixed width; weeks are
    Monday-aligned (origin 1970-01-05, the TimescaleDB idiom). A
    'date_trunc' kind truncates in the session zone, so the caller
    rewrites it only under a UTC session."""
    if not isinstance(expr, sql_plan.Call) or len(expr.args) != 2:
        return None
    unit, col = expr.args
    if col != sql_plan.Col(ts_col) or not isinstance(unit, sql_plan.Lit):
        return None
    if expr.func == "time_bucket" and unit.type == "string":
        try:
            b = _interval_us(unit.value)
        except ValueError:
            return None
        origin = _MONDAY_ORIGIN_US if "week" in unit.value.lower() else 0
        return b, origin, "time_bucket"
    if expr.func == "time_bucket" and unit.type.startswith("interval "):
        # a day-time INTERVAL arrives as µs; whether it was written in
        # weeks (Monday origin) is lost, so whole weeks decline (the
        # inlined gridded path answers them), as do year-month ones
        b = 0 if unit.type.split()[-1] in ("year", "month") else int(unit.value)
        return (b, 0, "time_bucket") if b > 0 and b % _WEEK_US else None
    units = ("second", "minute", "hour", "day")
    if expr.func == "date_trunc" and unit.type == "string" and unit.value.lower() in units:
        return _INTERVAL_UNITS_US[unit.value.lower()], 0, "date_trunc"
    return None


def _inline_time_bucket_sql(sql: str) -> str:
    """Textually replace fixed-width ``time_bucket('<iv>', col)`` calls
    with the equivalent epoch arithmetic so statements the rewrite
    declines (extra clauses, mixed aggregates, ...) still run through
    plain spark.sql — Spark has no time_bucket function of its own."""

    def sub(m: re.Match) -> str:
        try:
            b = _interval_us(m["iv"])
        except ValueError:
            return m.group(0)  # calendar unit: leave for Spark to reject
        origin = _MONDAY_ORIGIN_US if re.search(r"week", m["iv"], re.IGNORECASE) else 0
        col = m["col"]
        if origin:
            return (
                f"timestamp_micros(unix_micros({col}) - "
                f"pmod(unix_micros({col}) - {origin}, {b}))"
            )
        return f"timestamp_micros(unix_micros({col}) - pmod(unix_micros({col}), {b}))"

    return re.sub(
        r"time_bucket\(\s*(?:INTERVAL\s+)?'(?P<iv>[^']+)'\s*,\s*(?P<col>[A-Za-z_][A-Za-z0-9_]*)\s*\)",
        sub,
        sql,
        flags=re.IGNORECASE,
    )


class Engine:
    """A PySpark-native ModelarDB-style engine over one data folder."""

    def __init__(self, spark: SparkSession, data_folder: str) -> None:
        from modelardb_rs_spark.shipping import ensure_shipped

        self.spark = spark
        ensure_shipped(spark)
        self.folder = DataFolder(spark, data_folder)
        self.catalog = Catalog(self.folder.metadata_dir, self.folder.fs)
        # EXPLAIN ANALYZE instrumentation: explain_path(analyze=True)
        # installs accumulator-backed counters here for the duration of
        # one instrumented execution; operators thread it into the
        # decode paths (None = no instrumentation, zero overhead).
        self._analyze_metrics: dict | None = None
        # (table, snapshot version) -> True when every series' segments
        # are time-disjoint, proving no duplicate (timestamp, series)
        # points exist — the multifield reassembly then uses a codegen
        # pivot aggregate instead of collect_list+arrays_zip.
        self._disjoint_cache: dict[tuple[str, int], bool] = {}
        self._ensure_checkpoint_dir()
        # SQL surface for the tokenizer: bpe_count/bpe_encode/bpe_decode
        # as session UDFs (idempotent; same Arrow-batched UDFs as the
        # DataFrame API — operators/bpe.py)
        from modelardb_rs_spark.operators.bpe import register_sql_functions

        register_sql_functions(spark)

    def _ensure_checkpoint_dir(self) -> None:
        """Default RELIABLE checkpointing: iterative operators (dedup
        clustering, sequence packing) truncate lineage with
        ``checkpoint()`` when the session has a checkpoint directory,
        falling back to executor-local ``localCheckpoint()`` otherwise —
        which dies with any lost executor on a preemptible cluster. So
        when the data folder itself is durable shared storage (non-file
        scheme: s3a/hdfs/abfs/gs/...), or the master is local (where
        file: is reliable — it survives block eviction, and executor
        loss means driver loss anyway), set the session's checkpoint dir
        under the folder at init instead of leaving reliability opt-in.
        Never overrides a directory the user already set; VACUUM sweeps
        checkpoint data past the retention window."""
        sc = self.spark.sparkContext
        if sc.getCheckpointDir() is not None:
            return
        from urllib.parse import urlparse

        scheme = urlparse(self.folder.root).scheme or "file"
        if scheme != "file" or sc.master.startswith("local"):
            sc.setCheckpointDir(
                self.folder.fs.join(self.folder.root, "_checkpoints")
            )

    # ------------------------------------------------------------- catalog

    def modelardb_type(self) -> str:
        """Deployment kind (reference Operations::modelardb_type,
        modelardb_embedded/src/operations/mod.rs): this engine is the
        embedded library over a data folder."""
        return "embedded"

    def tables(self) -> dict[str, str]:
        return {name: kind.value for name, kind in self.catalog.tables().items()}

    def schema(self, name: str):
        kind = self.catalog.kind(name)
        if kind == TableKind.NORMAL:
            return self.catalog.normal_table_schema(name)
        return self.catalog.time_series_metadata(name).query_schema()

    # ----------------------------------------------------------------- DDL

    def create_table(self, name: str, schema) -> None:
        """Create a normal table. ``schema`` is a StructType or DDL string
        ("a INT, b STRING"). Timestamps are µs-precision (the reference
        coerces to µs for the same reason, parser.rs:848-860)."""
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        self.catalog.add_normal_table(name, schema)

    def create_time_series_table(self, meta: TimeSeriesTableMetadata) -> None:
        self.catalog.add_time_series_table(meta)

    def truncate(self, name: str) -> None:
        self.catalog.kind(name)  # raises if missing
        self.folder.truncate(name)

    def drop(self, name: str, if_exists: bool = False) -> None:
        if if_exists and name not in self.catalog.tables():
            return
        self.catalog.kind(name)
        self.folder.drop(name)
        self.catalog.drop(name)
        # the view read_sql registered last would keep serving the
        # dropped files; a re-created table re-registers its own
        self.spark.catalog.dropTempView(name)

    def vacuum(self, tables: list[str] | None = None, retain_seconds: int | None = None) -> None:
        names = tables or list(self.catalog.tables())
        for n in names:
            self.folder.vacuum(n, retain_seconds)
        if tables is None:
            self._sweep_staging(retain_seconds)

    def _sweep_staging(self, retain_seconds: int | None = None) -> None:
        """Delete ``_staging/`` directories (Flight put spills, remote
        relay spills) older than the retention window — the same
        contract as vacuuming dead table files. Relay-backed DataFrames
        stay readable until their staging ages out.

        Liveness guards: the active session's Spark checkpoint subtree
        (``sc.getCheckpointDir()``) is never swept regardless of age —
        deleting it would strand every lineage-truncated DataFrame
        (dedup clustering, packing) mid-job — and age is judged by the
        NEWEST file under each dir, not the dir entry's mtime, because
        object stores report synthetic directory mtimes (often 0 or
        creation time) that would make an actively-written dir look
        stale. An empty dir falls back to the entry mtime."""
        import time as _time

        from modelardb_rs_spark.sources.datafolder import DEFAULT_RETENTION_SECONDS

        retain = DEFAULT_RETENTION_SECONDS if retain_seconds is None else retain_seconds
        horizon_ms = int((_time.time() - retain) * 1000)
        live_ckpt = _normalize_fs_path(self.spark.sparkContext.getCheckpointDir())
        for sub in ("_staging", "_checkpoints"):
            base = self.folder.fs.join(self.folder.root, sub)
            if not self.folder.fs.exists(base):
                continue
            for info in self.folder.fs.list(base):
                if not info.is_dir:
                    continue
                path = _normalize_fs_path(info.path)
                if live_ckpt and (
                    path == live_ckpt
                    or live_ckpt.startswith(path + "/")
                    or path.startswith(live_ckpt + "/")
                ):
                    continue
                files = self.folder.fs.list_files_recursive(info.path)
                newest_ms = max((f.mtime_ms for f in files), default=info.mtime_ms)
                if newest_ms <= horizon_ms:
                    self.folder.fs.delete(info.path, recursive=True)

    def expire(self, name: str, older_than, not_before=None) -> dict:
        """Time-range retention: transactionally delete points with
        timestamp strictly before ``older_than`` (epoch-µs int, datetime,
        or ISO string). SQL form: ``DELETE FROM t WHERE ts < TIMESTAMP
        '...'``. ``not_before`` bounds the deletion below (delete only
        [not_before, older_than) — used by policies that must preserve
        late-arriving points under an already-processed watermark).
        Whole-file removals are metadata-only; only window-straddling
        segments are re-encoded (lossless, value-stable) —
        operators/retention.py. Expired files remain readable via time
        travel until VACUUM."""
        kind = self.catalog.kind(name)
        if kind != TableKind.TIME_SERIES:
            raise ValueError(
                f"{name}: DELETE/expire supports time series tables only "
                "(normal tables are append-only; use TRUNCATE)"
            )
        meta = self.catalog.time_series_metadata(name)
        cutoff_us = _to_us(older_than)
        if cutoff_us is None:
            raise ValueError("expire requires a cutoff")
        return self.folder.expire_segments_before(
            meta, cutoff_us, not_before_us=_to_us(not_before)
        )

    def resegment(self, name: str) -> dict:
        """Merge time-overlapping segments left by out-of-order or
        backfill ingest into disjoint, time-ordered ones — reads of the
        affected series stop paying the cross-segment merge forever.
        Clean series are passed through verbatim; only overlapping ones
        decode + refit (lossless, value-stable). One transactional
        commit; prior versions remain time-travelable until VACUUM."""
        meta = self.catalog.time_series_metadata(name)
        return self.folder.resegment(meta)

    def downsample_expire(
        self,
        name: str,
        rollup_table: str,
        every,
        columns: dict[str, str],
        older_than,
        group_by_tags: list[str] | None = None,
    ) -> dict:
        """Continuous-aggregate + retention policy (the Timescale
        "continuous aggregate with retention" analog): downsample raw
        data older than the cutoff into ``rollup_table`` (bucket width
        ``every``, aggregates per ``columns`` like ``resample``), then
        expire the raw points. Old data stays queryable forever at
        rollup resolution; raw resolution is kept only for the hot
        window.

        Idempotent across crashes: the rollup table's max bucket is the
        policy watermark — a re-run after a crash between the rollup
        append and the expire rolls up nothing new and simply finishes
        the expire. The cutoff is aligned DOWN to a bucket edge so a
        bucket is never half-rolled.

        Late data: out-of-order points landing BELOW the watermark
        after a previous run are never silently destroyed. A bucket the
        rollup has no row for in ANY group is rolled up from the late
        points, appended, and its raw window expired (the new rows were
        computed from exactly that raw). Late points whose bucket was
        already rolled for some group stay at RAW resolution only —
        never appended (a partial bucket row would double-represent the
        bucket: counted once in the rollup and once in surviving raw) —
        and the main expire deletes only [watermark, cutoff). Returns
        ``{"rolled_buckets", "expired", "late_rolled_buckets",
        "late_points_kept"}``.
        """
        meta = self.catalog.time_series_metadata(name)
        every_us = _interval_us(every)
        cutoff_us = _to_us(older_than)
        cutoff_us = (cutoff_us // every_us) * every_us
        group = group_by_tags if group_by_tags is not None else list(meta.tag_columns)

        start_us = None
        if rollup_table in self.catalog.tables():
            wm = self.table(rollup_table).agg(F.max("bucket")).collect()[0][0]
            if wm is not None:
                start_us = _to_us(wm) + every_us

        late_rolled = 0
        late_kept = 0
        not_before = None
        if start_us is not None:
            # any raw below the watermark is late (its window was
            # expired by an earlier run) — cheap segment-metadata probe
            late_exists = (
                self.segments(name, None, start_us - 1).limit(1).count() > 0
            )
            if late_exists:
                not_before = start_us
                late_res = self.resample(
                    name, every_us, columns, group_by=group, end=start_us - 1
                ).where(F.col("bucket") < F.timestamp_micros(F.lit(start_us)))
                prior_buckets = {
                    _to_us(r[0])
                    for r in self.table(rollup_table)
                    .select("bucket")
                    .distinct()
                    .collect()
                }
                # only buckets the rollup has NO row for (any group) are
                # caught up — a bucket partially rolled earlier cannot
                # accept new group rows without double-representing the
                # late points (once in the rollup, once in the raw that
                # must survive for the already-rolled groups)
                have_buckets = rows_frame(
                    self.spark, [(b,) for b in sorted(prior_buckets)], "b BIGINT"
                ).select(F.timestamp_micros(F.col("b")).alias("bucket"))
                new_rows = late_res.join(have_buckets, ["bucket"], "left_anti")
                late_rolled = new_rows.count()
                if late_rolled:
                    self.write(rollup_table, new_rows)
                    # those buckets are now FULLY represented by the rows
                    # just written — expire their raw window (merged into
                    # contiguous ranges, one commit each)
                    all_new = sorted(
                        _to_us(b)
                        for (b,) in new_rows.select("bucket").distinct().collect()
                    )
                    for lo_b, hi_b in _contiguous_ranges(all_new, every_us):
                        self.expire(name, hi_b + every_us, not_before=lo_b)
                late_kept = (
                    self.read_time_series_table(
                        name,
                        columns={meta.field_names[0]: "count"},
                        end=start_us - 1,
                    ).collect()[0][0]
                    or 0
                )

        rolled = 0
        if start_us is None or start_us < cutoff_us:
            res = self.resample(
                name, every_us, columns, group_by=group,
                start=start_us, end=cutoff_us - 1,
            )
            if rollup_table not in self.catalog.tables():
                self.create_table(rollup_table, res.schema)
            # resample prunes to [start, cutoff) via segment spans; the
            # bucket filter below is belt-and-braces for boundary segments
            res = res.where(F.col("bucket") < F.timestamp_micros(F.lit(cutoff_us)))
            if start_us is not None:
                res = res.where(
                    F.col("bucket") >= F.timestamp_micros(F.lit(start_us))
                )
            rolled = res.count()
            if rolled:
                self.write(rollup_table, res)
        expired = self.expire(name, cutoff_us, not_before=not_before)
        return {
            "rolled_buckets": rolled,
            "expired": expired,
            "late_rolled_buckets": late_rolled,
            "late_points_kept": late_kept,
        }

    def optimize(self, name: str, target_file_bytes: int = 128 << 20) -> dict:
        """Compact small files into ~target-sized ones (one transactional
        commit; old files remain for time travel until VACUUM). The
        Delta-OPTIMIZE analog of the reference's compaction-on-write —
        every append runs it once the table's mergeable small files
        cross ``datafolder.COMPACT_MIN_MERGEABLE``; call it directly to
        compact below that threshold."""
        tags = None
        if self.catalog.kind(name) == TableKind.TIME_SERIES:
            tags = self.catalog.time_series_metadata(name).tag_columns
        return self.folder.optimize(name, target_file_bytes, tag_columns=tags)

    # --------------------------------------------------------------- write

    def write(
        self,
        name: str,
        df: DataFrame | pa.Table,
        partition_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        commit_meta: dict | None = None,
        expected_meta: tuple[str, object] | None = None,
    ) -> int | None:
        """Append a DataFrame or an Arrow table. Returns the committed
        log version, or None when a txn replay gate skipped the write
        (callers auditing exactly-once behavior can distinguish applied
        from replayed). Time series tables are compressed inline
        (reference Operations::write → try_compress_multivariate_time_series,
        modelardb_embedded/src/data_folder.rs:191-238). ``partition_by``
        (normal tables only) lays files out Hive-style on those columns
        for planning-time partition pruning.

        An Arrow table is already in driver memory, so a time series
        table fits and writes it in-process with no Spark job
        (``compress.compress_arrow``, then one file per field through
        ``DataFolder.write_segments``); column types whose cast only
        Spark can reproduce, and every normal table, go through
        ``spark.createDataFrame`` into the DataFrame path. A DataFrame
        is compressed by the distributed ``compress.compress``.

        ``txn=(app_id, version)`` makes the append idempotent under
        at-least-once replay: the identifier is recorded ATOMICALLY in
        the same commit as the data (Delta SetTransaction semantics),
        and a write whose (app_id, version) the log already shows is a
        no-op. Already-applied epochs are skipped before any Spark job
        runs; a concurrent race is still caught at commit time.

        ``commit_meta`` (normal tables only) attaches an application
        metadata payload atomically to the same commit — see
        ``TransactionLog.commit`` and ``Snapshot.meta``."""
        if txn is not None:
            prev = self.last_txn_version(name, txn[0])
            if prev is not None and prev >= txn[1]:
                return None
        kind = self.catalog.kind(name)
        if kind == TableKind.NORMAL:
            if isinstance(df, pa.Table):
                df = arrow_frame(self.spark, df)
            schema = self.catalog.normal_table_schema(name)
            self._check_columns(name, df, [f.name for f in schema.fields])
            cast = df.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
            )
            return self.folder.write_normal(
                name, cast, partition_by=partition_by, txn=txn,
                commit_meta=commit_meta, expected_meta=expected_meta,
            )
        if commit_meta is not None or expected_meta is not None:
            raise ValueError("commit_meta applies to normal tables only")
        if partition_by:
            raise ValueError("partition_by applies to normal tables only")
        meta = self.catalog.time_series_metadata(name)
        insert_schema = meta.insert_schema()
        self._check_columns(name, df, [f.name for f in insert_schema.fields])
        if isinstance(df, pa.Table):
            segments = compress_ops.compress_arrow(df, meta, self._session_zone())
            if segments is not None:
                return self.folder.write_segments(meta, segments, txn=txn)
            df = arrow_frame(self.spark, df)
        cast = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in insert_schema.fields]
        )
        # The compressor range-partitions on (tags, time), which samples
        # the input in a separate pass. Cache small inputs so the sample
        # hits memory instead of re-running the source scan; at real
        # scale (estimate above the limit) the extra parallel scan is the
        # standard total-order-sort cost and caching would be wrong.
        cache_input = plan_size_bytes(cast) < _CACHE_WRITE_INPUT_LIMIT
        if cache_input:
            cast = cast.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            segments = compress_ops.compress(cast, meta)
            return self.folder.write_segments(meta, segments, txn=txn)
        finally:
            if cache_input:
                cast.unpersist()

    def _session_is_utc(self) -> bool:
        return self.spark.conf.get("spark.sql.session.timeZone", "UTC") in (
            "UTC", "Etc/UTC", "GMT", "Z", "+00:00",
        )

    def _session_zone(self) -> str | int:
        """The session time zone as ``compress.compress_arrow`` takes
        it: a fixed offset in seconds, or a region id. Resolved by
        Spark's own ``DateTimeUtils.getZoneId``, so aliases and offset
        spellings (``GMT+8``, ``+08:00``) mean what they mean to a cast."""
        jvm = self.spark._jvm
        zone = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
            self.spark.conf.get("spark.sql.session.timeZone")
        )
        rules = zone.getRules()
        if rules.isFixedOffset():
            return int(rules.getOffset(jvm.java.time.Instant.EPOCH).getTotalSeconds())
        return str(zone.getId())

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        expected_paths: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        commit_meta: dict | None = None,
    ) -> int:
        """Atomically replace a NORMAL table's contents in one commit
        (readers see the old snapshot until the commit lands, then the
        new one — never a missing or empty table; old files remain
        readable via time travel until VACUUM). ``expected_paths``
        makes the replace conditional on the live set being unchanged
        since the replacement was computed — see
        DataFolder.replace_normal. Time series tables rewrite through
        their own maintenance ops (optimize/resegment)."""
        kind = self.catalog.kind(name)
        if kind != TableKind.NORMAL:
            raise ValueError(f"overwrite() applies to normal tables only: {name}")
        schema = self.catalog.normal_table_schema(name)
        self._check_columns(name, df, [f.name for f in schema.fields])
        cast = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
        return self.folder.replace_normal(
            name, cast, partition_by=partition_by, expected_paths=expected_paths,
            txn=txn, commit_meta=commit_meta,
        )

    def last_txn_version(self, name: str, app_id: str) -> int | None:
        """Latest SetTransaction-style version recorded for ``app_id``
        on table ``name`` (None if never) — see ``write(txn=...)``."""
        return self.folder.last_txn_version(name, app_id)

    def reconstructed_bytes_bound(self, name: str) -> int:
        """Upper bound on the in-memory size of time-series table
        ``name`` fully reconstructed to points — commit-log stats only,
        no I/O, no jobs. Catalyst's plan estimate measures SEGMENT
        bytes, which understate gridded output by the model compression
        ratio (10-100x by design); collect-vs-stream decisions must use
        this bound instead. Sums every live file's ``total_points``
        times an estimated reconstructed row width (each per-field
        point becomes at most one output row). Returns "huge" when any
        live file lacks point stats, so callers take the scale-safe
        streaming path on doubt."""
        meta = self.catalog.time_series_metadata(name)
        n_values = len(meta.field_columns) + len(meta.generated_columns)
        # Arrow-ish widths: 8B timestamp + 8B per float value (incl.
        # validity/padding) + ~20B per tag string.
        row_width = 8 + 8 * n_values + 20 * len(meta.tag_columns)
        total = 0
        for f in self.folder.log(name).snapshot().files:
            pts = f.get("total_points")
            if not pts:
                return 1 << 62
            total += pts * row_width
        return total

    @staticmethod
    def _check_columns(table: str, df: DataFrame | pa.Table, required: list[str]) -> None:
        columns = df.column_names if isinstance(df, pa.Table) else df.columns
        missing = [c for c in required if c not in columns]
        if missing:
            raise ValueError(
                f"write to {table!r}: input is missing column(s) {missing}; "
                f"expected {required}, got {columns}"
            )

    # ---------------------------------------------------------------- read

    def segments(
        self,
        name: str,
        start_us: int | None = None,
        end_us: int | None = None,
        version: int | None = None,
        timestamp_ms: int | None = None,
        with_info: bool = False,
        tags=(),
    ) -> DataFrame:
        """The raw physical segments DataFrame of a time series table.
        A known time range prunes files driver-side from the commit log's
        per-file stats (exact predicates are re-applied downstream).
        `version`/`timestamp_ms` read an older snapshot (time travel).
        ``tags``: (tag, value) equality filters on the segment rows."""
        meta = self.catalog.time_series_metadata(name)
        segments, info = self.folder.read_segments(
            meta,
            version=version,
            timestamp_ms=timestamp_ms,
            start_us=start_us,
            end_us=end_us,
            with_info=True,
        )
        for t, v in tags:
            if t not in meta.tag_columns:
                raise ValueError(f"{name}: {t!r} is not a tag column")
            segments = segments.where(F.col(t) == F.lit(v))
        return (segments, info) if with_info else segments

    def table(
        self,
        name: str,
        fields: list[str] | None = None,
        start=None,
        end=None,
        version: int | None = None,
        timestamp_ms: int | None = None,
        tags: dict[str, str] | None = None,
        probe_duplicates: bool = True,
        value_filters: list[tuple[str, str, float]] | None = None,
    ) -> DataFrame:
        """The logical DataFrame of a table (time series tables gridded,
        with optional projection + time-range segment pruning; ``tags``
        equality filters apply to SEGMENTS, before any decode).
        `version`/`timestamp_ms` read an older commit-log snapshot (time
        travel, both table kinds). ``probe_duplicates=False`` skips the
        point-uniqueness probe job (the multifield reassembly then uses
        the always-correct duplicate-preserving path).

        ``value_filters``: (field, op, literal) comparisons the caller's
        query ALREADY applies to the output (AND conjuncts) — used to
        prune segments by their min_value/max_value stats before decode
        (``f > x`` drops every segment of f whose max_value <= x: it
        can only yield rows the caller's filter discards). Applied only
        when safe: a univariate view always is; the multifield
        reassembly only under the no-duplicate-points proof, because
        with duplicate timestamps the positional zip pairing would
        shift when one duplicate's segment is pruned."""
        kind = self.catalog.kind(name)
        if kind == TableKind.NORMAL:
            df = self.folder.read_normal(
                name,
                self.catalog.normal_table_schema(name),
                version=version,
                timestamp_ms=timestamp_ms,
            )
            for t, v in (tags or {}).items():
                df = df.where(F.col(t) == F.lit(v))
            return df.select(*fields) if fields else df
        meta = self.catalog.time_series_metadata(name)
        start_us, end_us = _to_us(start), _to_us(end)
        segments, info = self.segments(
            name, start_us, end_us, version, timestamp_ms, True, (tags or {}).items()
        )
        no_dups = False
        if (
            probe_duplicates
            and len(meta.field_columns) > 1
            and (fields is None or len(fields) > 1)
        ):
            no_dups = self._no_duplicate_points(name, meta, info["version"])
        if value_filters:
            multifield = len(meta.field_columns) > 1 and (fields is None or len(fields) > 1)
            if not multifield or no_dups:
                fidx = meta.field_index_of
                for f, op, x in value_filters:
                    stat = (
                        F.col("max_value") >= F.lit(x)
                        if op == ">="
                        else F.col("max_value") > F.lit(x)
                        if op == ">"
                        else F.col("min_value") <= F.lit(x)
                        if op == "<="
                        else F.col("min_value") < F.lit(x)
                    )
                    segments = segments.where(
                        (F.col("field_column") != F.lit(fidx[f])) | stat
                    )
        return grid_ops.grid(
            segments,
            meta,
            fields=fields,
            start_us=start_us,
            end_us=end_us,
            may_have_slow=info["may_have_slow"],
            fast_fraction=info["fast_fraction"],
            metrics=self._analyze_metrics,
            no_duplicate_points=no_dups,
        )

    # Above this file count the disjointness probe's metadata shuffle is
    # no longer "a small planning job"; multifield reads then keep the
    # always-correct collect_list reassembly.
    _DISJOINT_PROBE_MAX_FILES = 10_000

    def _no_duplicate_points(self, name: str, meta, version: int) -> bool:
        """True iff every series' segments are pairwise time-disjoint at
        ``version`` — which proves no duplicate (timestamp, series)
        points (timestamps strictly increase inside a segment). Cached
        per snapshot version. Disjointness of the full snapshot implies
        it for every pruned subset, so the cached answer serves all time
        ranges and tag filters. A write bumps the version and
        invalidates naturally.

        Proven from the commit log when every live file carries series
        rows (``aggregates.log_disjoint``): no job, no file opened. Otherwise, or
        when the log cannot prove it, ONE narrow metadata window over
        the segment columns (never the payloads) decides, in 3 jobs."""
        if version < 0:
            return True
        snap = self.folder.log(name).snapshot(version)
        # keyed by the live FILE SET, not the version number alone: a
        # drop + recreate restarts versions at 0 but stages under fresh
        # txn= dirs, so a stale proof can never serve the new table
        key = (name, version, hash(tuple(sorted(snap.paths))))
        hit = self._disjoint_cache.get(key)
        if hit is not None:
            return hit
        if agg_ops.log_disjoint(snap.files):
            result = True
        elif len(snap.files) > self._DISJOINT_PROBE_MAX_FILES:
            result = False
        else:
            from pyspark.sql import Window

            segments = self.segments(name, version=version)
            w = Window.partitionBy("field_column", *meta.tag_columns).orderBy(
                "start_time", "end_time"
            )
            prev_end = F.max("end_time").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            )
            flagged = segments.withColumn("__pe__", prev_end)
            overlapping = flagged.where(
                F.col("__pe__").isNotNull() & (F.col("start_time") <= F.col("__pe__"))
            )
            result = overlapping.limit(1).count() == 0
        # one entry per table: every write bumps the version, so keeping
        # prior versions would grow without bound on a long-lived engine
        # (time-travel reads of old versions just recompute — rare path)
        stale = [k for k in self._disjoint_cache if k[0] == name and k != key]
        for k in stale:
            del self._disjoint_cache[k]
        self._disjoint_cache[key] = result
        return result

    def register_views(
        self,
        for_sql: str | sql_plan.Analysis | None = None,
        time_travel_views: frozenset[str] = frozenset(),
    ) -> None:
        """Register catalog tables as Spark temp views (time series
        tables as their gridded reconstruction) for one statement, given
        as SQL text or as its ``plans.sql`` analysis. A plain query gets
        views of only the tables it reads, shaped by it. Every table gets
        its full view when there is no statement, Spark cannot parse it,
        it is not a plain query (EXPLAIN, CREATE VIEW, ...), or it reads
        a relation that is no catalog table, CTE or time-travel view: a
        SQL temp view can hide reads of any table and field. (A SQL
        function body reading a catalog table is not seen.)

        Shaping: a view decodes only the fields the query references —
        Catalyst cannot prune fields through the multivariate
        collect_list/arrays_zip reassembly, and a single-field view is
        the shuffle-free univariate plan (as the reference prunes GridExec
        columns, time_series_table.rs:535-595); a star, USING/NATURAL
        join or no field reference (bare ``count(*)``) keeps all. The
        typed AND-conjuncts of the WHERE directly over a table read once
        restrict its SEGMENT scan before decode (_view_constraints): each
        is implied by the query, which re-applies its WHERE. A bare
        ``SELECT <columns> FROM t LIMIT n`` scans only the file prefix
        that provably holds n rows (time_series_table.rs:447)."""
        if isinstance(for_sql, str):
            for_sql = sql_plan.analyze(self.spark, for_sql)
        tables = self.catalog.tables()
        known = {n.lower() for n in tables} | {v.lower() for v in time_travel_views}
        query = for_sql if for_sql is not None and for_sql.closed else None
        if query is not None and not query.relations <= known | query.ctes:
            query = None
        utc = self._session_is_utc()
        for name, kind in tables.items():
            if query is not None and name.lower() not in query.relations:
                continue
            fields = start_us = end_us = tag_filters = value_filters = None
            if kind == TableKind.TIME_SERIES and query is not None:
                meta = self.catalog.time_series_metadata(name)
                selectable = meta.field_names + [g.name for g in meta.generated_columns]
                hit = [c for c in selectable if c.lower() in (query.columns or ())]
                if query.columns is not None and hit and len(hit) < len(selectable):
                    fields = hit
                start_us, end_us, tag_filters, value_filters = _view_constraints(
                    query.filters.get(name.lower(), ()), meta, utc
                )
                sel = query.select
                if sel is not None and sel.bare_limit and sel.table.lower() == name.lower():
                    end_us = self.folder.limit_time_cutoff(name, sel.bare_limit)
            # tables the statement never names get no instrumentation
            # (EXPLAIN ANALYZE counters must reflect the query, not the
            # catalog) and no duplicate-uniqueness probe job
            referenced = for_sql is None or name.lower() in for_sql.relations
            saved_metrics = self._analyze_metrics
            if not referenced:
                self._analyze_metrics = None
            try:
                self.table(
                    name,
                    fields=fields,
                    start=start_us,
                    end=end_us,
                    tags=tag_filters or None,
                    probe_duplicates=referenced,
                    value_filters=value_filters or None,
                ).createOrReplaceTempView(name)
            finally:
                self._analyze_metrics = saved_metrics

    def read_sql(self, sql: str) -> DataFrame | None:
        """Execute one statement of the extended SQL dialect.

        DDL/utility statements return None; queries return a DataFrame.
        """
        stmt = parse_statement(sql)
        if stmt.kind == "create_time_series":
            self.create_time_series_table(stmt.ts_metadata)
            return None
        if stmt.kind == "create_normal":
            self.create_table(stmt.tables[0], T.StructType.fromDDL(stmt.columns_ddl))
            return None
        if stmt.kind == "truncate":
            # CLUSTER with no explicit tables = every table in this data
            # folder (the embedded analog of the reference's cluster-wide
            # TRUNCATE, parser.rs:512-632 — no other nodes to fan out to)
            tables = stmt.tables or (list(self.catalog.tables()) if stmt.cluster else [])
            for t in tables:
                self.truncate(t)
            return None
        if stmt.kind == "drop":
            self.drop(stmt.tables[0], if_exists=stmt.if_exists)
            return None
        if stmt.kind == "show_tables":
            rows = [(n, k) for n, k in sorted(self.tables().items())]
            return rows_frame(self.spark, rows, "table_name string, table_type string")
        if stmt.kind == "describe":
            name = stmt.tables[0]
            kind = self.catalog.kind(name)
            if kind == TableKind.NORMAL:
                rows = [
                    (f.name, f.dataType.simpleString(), "column")
                    for f in self.catalog.normal_table_schema(name).fields
                ]
            else:
                meta = self.catalog.time_series_metadata(name)
                rows = [(meta.timestamp_column, "timestamp", "timestamp")]
                for fname, bound in meta.field_columns.items():
                    rows.append((fname, "float", f"field({bound.describe()})"))
                rows += [
                    (g.name, "float", f"field as ({g.expr_sql})")
                    for g in meta.generated_columns
                ]
                rows += [(t, "string", "tag") for t in meta.tag_columns]
            return rows_frame(self.spark, rows, "column_name string, data_type string, role string")
        if stmt.kind == "explain_analyze":
            report = self.explain_path(stmt.select_sql, analyze=True)
            return rows_frame(self.spark, [(line,) for line in report.splitlines()], "plan string")
        if stmt.kind == "delete":
            table = stmt.tables[0]
            if self.catalog.kind(table) != TableKind.TIME_SERIES:
                raise ValueError(
                    f"{table}: DELETE/expire supports time series tables only "
                    "(normal tables are append-only; use TRUNCATE)"
                )
            meta = self.catalog.time_series_metadata(table)
            if stmt.delete_column.lower() != meta.timestamp_column.lower():
                raise ValueError(
                    f"DELETE on {table} supports only the timestamp column "
                    f"{meta.timestamp_column!r}, got {stmt.delete_column!r}"
                )
            lit = stmt.delete_literal
            if lit.isdigit():
                cutoff_us = int(lit)
            else:
                cutoff_us = _to_us(lit.split("'", 1)[1].rstrip("'"))
            if stmt.delete_op == "<=":
                cutoff_us += 1  # expire-strictly-before of the next µs
            self.expire(table, cutoff_us)
            return None
        if stmt.kind == "vacuum":
            self.vacuum(stmt.tables or None, stmt.retain_seconds)
            return None
        if stmt.kind == "optimize":
            kwargs = (
                {"target_file_bytes": stmt.target_file_bytes}
                if stmt.target_file_bytes
                else {}
            )
            self.optimize(stmt.tables[0], **kwargs)
            return None
        if stmt.kind == "include":
            return self._include_select(stmt)
        if stmt.kind == "insert":
            self._insert(stmt)
            return None
        sql, time_travel_views = self._rewrite_time_travel(sql)
        analysis = sql_plan.analyze(self.spark, sql)
        df = self._try_aggregate_pushdown(analysis)
        return self._gridded(sql, analysis, time_travel_views) if df is None else df

    def _gridded(self, sql: str, analysis, time_travel_views: frozenset[str]) -> DataFrame:
        """``sql`` under plain spark.sql over the views it reads."""
        self.register_views(analysis, time_travel_views)
        # ASOF JOIN (DuckDB / Snowflake MATCH_CONDITION shape) routes to
        # operators/asof.py — Spark SQL has no as-of join of its own,
        # the same way time_bucket/max_by route below
        from modelardb_rs_spark.operators.asof import rewrite_asof_sql

        asof_df = rewrite_asof_sql(self.spark, sql)
        if asof_df is not None:
            return asof_df
        # Spark has no time_bucket function: statements the rewrite
        # declined (extra clauses, calendar-mixed shapes, ...) get the
        # call inlined as epoch arithmetic so they still run
        return self.spark.sql(_inline_time_bucket_sql(sql))

    def explain_path(self, sql: str, analyze: bool = False) -> str:
        """Which execution path a statement takes — the API-level
        analog of the reference's EXPLAIN showing whether its physical
        rule fired: 'segment-stats pushdown' — answered on the driver
        from the commit log's per-series rows ('commit-log answer', no
        segment file read), or metadata-only Column aggregation over the
        segment files, optionally bucketed/partial — or 'gridded view'
        (full reconstruction under spark.sql), or the statement kind
        for DDL/utility statements.

        ``analyze=True`` EXECUTES the statement instrumented with
        runtime counters (EXPLAIN ANALYZE — parity with the reference's
        per-operator metrics, grid_exec.rs:439-518) and appends:
        python-decoded segments/points and Arrow batches (exact, from
        Spark accumulators inside the decode UDF), JVM-fast-path
        segments/points (from the segment metadata feeding that
        branch), and the inline per-model-type point breakdown
        (``rows_created_by_model_type`` — the reference GridStream's
        metric, grid_exec.rs:439-451)."""
        stmt = parse_statement(sql)
        if stmt.kind not in ("passthrough", "select"):
            return stmt.kind
        sql, time_travel_views = self._rewrite_time_travel(sql)
        analysis = sql_plan.analyze(self.spark, sql)
        gridded = "gridded view (reconstruction under spark.sql)"
        if not analyze:
            df = self._try_aggregate_pushdown(analysis)
            return gridded if df is None else self._pushdown_path_of(analysis, df)

        from modelardb_rs_spark.types import GORILLA_ID, PMC_MEAN_ID, SWING_ID

        sc = self.spark.sparkContext
        m = {
            "python_segments": sc.accumulator(0),
            "python_points": sc.accumulator(0),
            "python_batches": sc.accumulator(0),
            "python_points_by_model": {
                i: sc.accumulator(0) for i in (PMC_MEAN_ID, SWING_ID, GORILLA_ID)
            },
            "fast_branches": [],
        }
        self._analyze_metrics = m
        try:
            df = self._try_aggregate_pushdown(analysis)
            path = gridded if df is None else self._pushdown_path_of(analysis, df)
            if df is None:
                df = self._gridded(sql, analysis, time_travel_views)
            n_out = df.count()  # execute the instrumented plan
        finally:
            self._analyze_metrics = None
        by_model = {
            mid: acc.value for mid, acc in m["python_points_by_model"].items()
        }
        fast_segs = fast_pts = 0
        for branch in m["fast_branches"]:
            if branch is None:
                continue
            rows = branch.groupBy("model_type_id").agg(
                F.count("*").alias("s"), F.sum("value_count").alias("p")
            ).collect()
            for row in rows:
                fast_segs += row["s"] or 0
                fast_pts += row["p"] or 0
                mid = int(row["model_type_id"])
                by_model[mid] = by_model.get(mid, 0) + (row["p"] or 0)
        model_names = {PMC_MEAN_ID: "pmc_mean", SWING_ID: "swing", GORILLA_ID: "gorilla"}
        by_model_str = ", ".join(
            f"{model_names.get(mid, f'model{mid}')}={n}" for mid, n in sorted(by_model.items())
        )
        return (
            f"{path}\n"
            f"analyze: output_rows={n_out}, "
            f"python_decoded_segments={m['python_segments'].value}, "
            f"python_decoded_points={m['python_points'].value}, "
            f"python_arrow_batches={m['python_batches'].value}, "
            f"jvm_fast_segments={fast_segs}, jvm_fast_points={fast_pts}\n"
            f"rows_created_by_model_type: {by_model_str}"
        )

    def _pushdown_path_of(self, analysis: sql_plan.Analysis, df: DataFrame) -> str:
        # a rewritten statement's only non-column GROUP BY key is its bucket
        bucketed = any(isinstance(g, sql_plan.Call) for g in analysis.select.group_by or ())
        kind = "bucketed resample" if bucketed else "simple aggregates"
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "FileScan" not in plan:
            return f"segment-stats pushdown ({kind}, commit-log answer: no segment file read)"
        # class (c) decodes in Python, or on the JVM as grid's
        # ``explode(sequence(0, value_count - 1))`` point generator
        partial = (
            "MapInPandas" in plan
            or "ArrowEvalPython" in plan
            or "Generate explode(sequence(0, " in plan
        )
        return (
            f"segment-stats pushdown ({kind}"
            + (", partial: boundary/slow segments decode)" if partial else ", metadata-only)")
        )

    _TT_VERSION = re.compile(
        r"\b(?P<name>[A-Za-z_]\w*)\s+VERSION\s+AS\s+OF\s+(?P<v>\d+)", re.IGNORECASE
    )
    _TT_TIMESTAMP = re.compile(
        r"\b(?P<name>[A-Za-z_]\w*)\s+TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'",
        re.IGNORECASE,
    )

    def _rewrite_time_travel(self, sql: str) -> tuple[str, frozenset[str]]:
        """Delta-style time-travel SQL: ``FROM t VERSION AS OF 3`` /
        ``FROM t TIMESTAMP AS OF '2024-01-02 00:00:00'`` — each clause
        registers the historical snapshot as a temp view and the clause
        collapses to that view's name (Engine.table version/timestamp_ms
        does the snapshot resolution). Returns the rewritten statement
        and the names of the views it registered."""
        import datetime as _dt

        views: set[str] = set()

        def by_version(m: re.Match) -> str:
            name, v = m["name"], int(m["v"])
            if name not in self.catalog.tables():
                return m.group(0)
            view = f"{name}__asof_v{v}"
            self.table(name, version=v).createOrReplaceTempView(view)
            views.add(view)
            return view

        def by_timestamp(m: re.Match) -> str:
            name = m["name"]
            if name not in self.catalog.tables():
                return m.group(0)
            t = _dt.datetime.fromisoformat(m["ts"])
            if t.tzinfo is None:
                t = t.replace(tzinfo=_dt.timezone.utc)
            ms = int(t.timestamp() * 1000)
            view = f"{name}__asof_t{ms}"
            self.table(name, timestamp_ms=ms).createOrReplaceTempView(view)
            views.add(view)
            return view

        sql = self._TT_VERSION.sub(by_version, sql)
        return self._TT_TIMESTAMP.sub(by_timestamp, sql), frozenset(views)

    def _insert(self, stmt: ModelarStatement) -> None:
        """INSERT INTO t [(cols)] SELECT ... | VALUES ... — routed through
        the write path (reference: DataFusion DML → DataSinkExec →
        TimeSeriesTableDataSink, data_sinks.rs:38-212)."""
        table = stmt.tables[0]
        kind = self.catalog.kind(table)
        if kind == TableKind.NORMAL:
            declared = [f.name for f in self.catalog.normal_table_schema(table).fields]
        else:
            declared = [f.name for f in self.catalog.time_series_metadata(table).insert_schema().fields]
        cols = stmt.insert_columns or declared
        query = stmt.select_sql
        if query.lstrip().upper().startswith("VALUES"):
            query = f"SELECT * FROM ({query}) AS __v({', '.join(cols)})"
        else:
            self.register_views(query)
        df = self.spark.sql(query).toDF(*cols)
        self.write(table, df)

    # ----------------------------------------------- model-based aggregates

    def _try_aggregate_pushdown(
        self, analysis: sql_plan.Analysis | None
    ) -> DataFrame | None:
        """API-level equivalent of the reference's ModelSimpleAggregates
        physical rule (model_simple_aggregates.rs:175-334), matched like
        it on the parsed plan: COUNT/MIN/MAX/SUM/AVG and the variance
        family over stored fields of one time series table, answered from
        segment statistics (``_stats_aggregates``). Past the reference:
        GROUP BY tags and one fixed-width time_bucket/date_trunc key;
        WHERE tag equalities and one lower plus one upper timestamp
        bound, strict or not (a single bound declines: the documented
        rewrite-defeat idiom); all-``max_by``/``min_by(field, ts)`` items
        by the edge-points read. Time bounds and date_trunc need a UTC
        session. Columns follow the projection, named as spark.sql names
        them. Anything else → None, the gridded path."""
        sel = analysis.select if analysis is not None else None
        if sel is None or sel.ordered or sel.limit is not None:
            return None
        table = sel.table
        if self.catalog.tables().get(table) != TableKind.TIME_SERIES:
            return None
        meta = self.catalog.time_series_metadata(table)
        field_index = meta.field_index_of
        group_cols: list[str] = []
        bucket = bucket_key = None
        for g in sel.group_by or ():
            if isinstance(g, sql_plan.Col) and g.name in meta.tag_columns:
                group_cols.append(g.name)
            elif bucket is None and (bucket := _bucket_us_of(g, meta.timestamp_column)):
                if bucket[2] == "date_trunc" and not self._session_is_utc():
                    return None
                bucket_key = g
            else:
                return None
        tag_filters: list[tuple[str, str]] = []
        bounds: dict[str, int] = {}
        for p in sel.where:
            if p is not None and p.kind == "string" and p.column in meta.tag_columns:
                tag_filters.append((p.column, p.value))
            elif (
                p is not None and p.kind == "timestamp" and p.column == meta.timestamp_column
                and p.op not in bounds and self._session_is_utc()
            ):
                bounds[p.op] = p.value
            else:
                return None  # any other predicate: gridded path
        if len(bounds) == 1:
            return None  # single bound = the rewrite-defeat idiom
        lo_us, hi_us = bounds.get(">="), bounds.get("<=")

        aggs: list[tuple[str, int, str]] = []
        edges: list[tuple[str, int, str]] = []
        bucket_alias: str | None = None
        out_names: list[str] = []
        for item in sel.items:
            e = item.expr
            arg = e.args[0] if isinstance(e, sql_plan.Call) and e.args else None
            if item.alias is None and isinstance(e, sql_plan.Col) and e.name in group_cols:
                out_names.append(e.name)  # plain group key in the projection
                continue
            if bucket_alias is None and bucket_key is not None and e == bucket_key:
                bucket_alias = item.alias or "bucket"
                out_names.append(bucket_alias)
                continue
            if not isinstance(e, sql_plan.Call) or e.func not in _AGG_FUNCS | _EDGE_FUNCS:
                return None
            if e.func == "count" and e.args == (_COUNT_STAR,):
                idx = 0  # every point exists in every field partition
            elif isinstance(arg, sql_plan.Col) and arg.name in field_index:
                idx = field_index[arg.name]
            else:
                return None
            edge = e.func in _EDGE_FUNCS
            if e.args[1:] != ((sql_plan.Col(meta.timestamp_column),) if edge else ()):
                return None
            (edges if edge else aggs).append((e.func, idx, item.name))
            out_names.append(item.name)
        if len(set(out_names)) != len(out_names) or (edges and aggs) or not (edges or aggs):
            return None  # duplicate names, mixed edge + simple aggregates
        if bucket_key is not None and (bucket_alias is None or edges):
            return None  # a bucket the projection doesn't show, or edges
        if edges and lo_us is not None:
            return None  # the edge segment may straddle the bound
        if edges:
            out = self._edge_aggregates(table, meta, edges, group_cols, tag_filters)
        else:
            out = self._stats_aggregates(
                table, meta, aggs, group_cols, tag_filters, lo_us, hi_us, bucket, bucket_alias
            )
        return out.select(*out_names)

    def _stats_aggregates(self, name, meta, aggs, group_by, tag_filters, lo_us=None,
                          hi_us=None, bucket=None, bucket_alias="bucket") -> DataFrame:
        """Simple aggregates (func, field index, alias) per ``group_by``
        tags from segment statistics, for SQL and the API: from the
        commit log's series rows when unbounded and unbucketed, else by
        the segment-aggregate kernel. ``bucket`` starts with (width µs,
        origin µs)."""
        if lo_us is None and hi_us is None and bucket is None:  # epoch 0 is a bound
            logged = self._log_aggregates(name, meta, aggs, group_by, tag_filters)
            if logged is not None:
                return logged
        segments, info = self.segments(name, lo_us, hi_us, with_info=True, tags=tag_filters)
        width, origin = bucket[:2] if bucket else (None, 0)
        return agg_ops.segment_aggregates(
            segments, aggs, group_by or None, list(meta.tag_columns), lo_us, hi_us, width,
            origin, bucket_alias, info["may_have_slow"], info["fast_fraction"],
            self._analyze_metrics,
        )

    def _edge_aggregates(self, name, meta, edges, group_cols, tag_filters) -> DataFrame:
        """max_by/min_by(field, timestamp) items by the edge-points read
        (O(series) decode): one edge_points pass per direction, then
        per-field conditional struct extremums fold every item of that
        direction inside one aggregation."""
        segments, info = self.segments(name, with_info=True, tags=tag_filters)
        outs = []
        for func, which in (("max_by", "last"), ("min_by", "first")):
            dir_items = [(idx, alias) for f, idx, alias in edges if f == func]
            if not dir_items:
                continue
            ep = grid_ops.edge_points(
                segments.where(F.col("field_column").isin(sorted({i for i, _ in dir_items}))),
                list(meta.tag_columns),
                which,
                may_have_slow=info["may_have_slow"],
                fast_fraction=info["fast_fraction"],
            )
            # struct extremum: deterministic on timestamp ties
            pick = F.max if which == "last" else F.min
            dir_aggs = [
                pick(F.when(F.col("field_column") == F.lit(idx), F.struct("timestamp", "value")))[
                    "value"
                ].alias(alias)
                for idx, alias in dir_items
            ]
            outs.append(ep.groupBy(*group_cols).agg(*dir_aggs))
        out = outs[0]
        for o in outs[1:]:
            out = out.join(o, group_cols) if group_cols else out.crossJoin(o)
        return out

    def _log_aggregates(
        self,
        name: str,
        meta: TimeSeriesTableMetadata,
        aggs: list[tuple[str, int, str]],
        group_by: list[str],
        tag_filters: list[tuple[str, object]],
    ) -> DataFrame | None:
        """Un-time-bounded simple aggregates answered from the latest
        snapshot's commit-log series rows (``aggregates.log_aggregates``)
        as an Arrow-built frame with the Column path's schema. None —
        take the Column path — when any live file of a referenced field
        partition lacks rows (legacy, over the series cap, or from a
        wide commit), or a group key or filter is not a string tag."""
        tags = set(meta.tag_columns)
        if not set(group_by) <= tags or any(
            t not in tags or not isinstance(v, str) for t, v in tag_filters
        ):
            return None
        series: dict[int, list[list]] = {idx: [] for _, idx, _ in aggs}
        for f in self.folder.log(name).snapshot().files:
            idx = f.get("field_column")
            if idx is None or (idx in series and f.get("series") is None):
                return None
            if idx in series:
                series[idx].extend(f["series"])
        answer = agg_ops.log_aggregates(
            series, meta.tag_columns, aggs, group_by, tag_filters
        )
        return None if answer is None else arrow_frame(self.spark, *answer)

    # ------------------------------------------------------------- include

    def _include_select(self, stmt: ModelarStatement) -> DataFrame:
        """INCLUDE 'address'[, 'address']+ SELECT ... — run the SELECT
        against this engine and every included address, returning the
        unordered union (reference parser.rs:465-492; the reference fans
        the statement out to remote Flight nodes and merges the streams,
        remote.rs:91-119).

        Addresses: ``grpc://host:port`` executes remotely over Arrow
        Flight (the included node runs the query; only its RESULT
        crosses the wire, typically aggregate-sized); anything else is
        opened as another data folder and queried by this session —
        useful when folders share storage (e.g. two S3 roots) and the
        cluster should scan both itself."""
        result = self.read_sql(stmt.select_sql)
        for addr in stmt.include_addresses:
            if addr.startswith(("grpc://", "grpc+tls://", "grpc+tcp://")):
                from modelardb_rs_spark.flight import relay_to_dataframe

                # streamed relay: aggregate-sized results build in
                # memory; larger ones spill batch-wise to shared-storage
                # staging and are read by the executors — the driver
                # never holds more than one spill buffer
                part = relay_to_dataframe(self, addr, stmt.select_sql)
            else:
                part = Engine(self.spark, addr).read_sql(stmt.select_sql)
            result = result.unionByName(part)
        return result

    # ---------------------------------------------------- convenience reads

    def read_time_series_table(
        self,
        name: str,
        columns: dict[str, str | None] | None = None,
        group_by: list[str] | None = None,
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """Structured read (reference Operations::read_time_series_table,
        modelardb_embedded/src/operations/mod.rs:190-255): per-column
        aggregate selection (None|count|min|max|sum|avg), tag filters,
        GROUP BY, and a time range.

        Aggregates with tag constraints run purely on segment statistics
        (from the commit log's series rows when every live file has
        them); aggregates with a time range use partial pushdown (stats for
        segments fully inside the range, closed form or decode only for
        boundary segments — operators/aggregates.py::segment_aggregates)."""
        meta = self.catalog.time_series_metadata(name)
        columns = columns or {f: None for f in meta.field_names}
        aggs = [
            (a.lower(), meta.field_index_of[c], f"{a.lower()}_{c}")
            for c, a in columns.items() if a is not None
        ]
        if aggs:
            return self._stats_aggregates(
                name, meta, aggs, list(group_by or []), list((tags or {}).items()),
                _to_us(start), _to_us(end),
            )
        df = self.table(name, start=start, end=end, tags=tags)
        return df.select(meta.timestamp_column, *columns.keys(), *meta.tag_columns)

    def resample(
        self,
        name: str,
        every,
        columns: dict[str, str],
        group_by: list[str] | None = None,
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """Time-bucket downsampling with model-based pushdown
        (operators/aggregates.py::segment_aggregates): a segment inside
        one bucket contributes its stats, a PMC-Mean segment with regular
        timestamps crossing buckets contributes per-bucket aggregates in
        closed form, and other segments grid first. ``every`` is a
        bucket width (µs int or '15 minutes'/'1 hour'/'1 day'); ``columns``
        maps field -> aggregate (or list of aggregates) like
        read_time_series_table."""
        meta = self.catalog.time_series_metadata(name)
        aggs = [
            (a.lower(), meta.field_index_of[c], f"{a.lower()}_{c}")
            for c, spec in columns.items()
            for a in ([spec] if isinstance(spec, str) else spec)
        ]
        return self._stats_aggregates(
            name, meta, aggs, group_by, list((tags or {}).items()), _to_us(start), _to_us(end),
            (_interval_us(every), 0),
        )

    def gapfill(
        self,
        name: str,
        every,
        field: str,
        method: str = "linear",
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """Regular-grid read with gap filling: resample ``field`` to
        ``every``-wide buckets (per-bucket AVG, model-pushdown where
        possible), then fill missing buckets per series by LOCF or
        linear interpolation (operators/gapfill.py). Output:
        (*tags, bucket, <field>, was_gap)."""
        from modelardb_rs_spark.operators.gapfill import gapfill as gapfill_op

        meta = self.catalog.time_series_metadata(name)
        buckets = self.resample(
            name, every, {field: "avg"}, group_by=meta.tag_columns,
            start=start, end=end, tags=tags,
        ).withColumnRenamed(f"avg_{field}", field)
        return gapfill_op(
            buckets, meta.tag_columns, _interval_us(every), value_col=field,
            method=method,
        )

    def _per_series_read(
        self, name: str, fields: list[str] | None, tags: dict[str, str] | None
    ):
        """Shared setup for the per-series reads (last/first/value_at):
        tag-filtered, field-restricted segments plus the pieces needed to
        name the output."""
        meta = self.catalog.time_series_metadata(name)
        field_index = meta.field_index_of
        segments, info = self.segments(name, with_info=True, tags=(tags or {}).items())
        wanted = fields or list(meta.field_columns)
        segments = segments.where(
            F.col("field_column").isin([field_index[f] for f in wanted])
        )
        return meta, segments, wanted, info

    def _named_field_output(self, out: DataFrame, meta, wanted: list[str], *extra) -> DataFrame:
        """(field_column, timestamp µs, value, *extra) → (tags, field
        name, TimestampType, value, *extra)."""
        return out.select(
            *meta.tag_columns,
            self._field_name(meta, wanted),
            F.timestamp_micros(F.col("timestamp")).alias(meta.timestamp_column),
            "value",
            *extra,
        )

    @staticmethod
    def _field_name(meta, wanted: list[str]):
        """The ``field`` column: each wanted field_column index as its name."""
        name_expr = F.col("field_column").cast("string")
        for f in wanted:
            name_expr = F.when(
                F.col("field_column") == F.lit(meta.field_index_of[f]), F.lit(f)
            ).otherwise(name_expr)
        return name_expr.alias("field")

    def last_points(
        self,
        name: str,
        fields: list[str] | None = None,
        tags: dict[str, str] | None = None,
        which: str = "last",
    ) -> DataFrame:
        """First/last observation per series (operators/grid.py::
        edge_points): segment metadata finds each series' edge segment;
        only those decode. Output: (*tags, field, timestamp, value),
        one row per (series, field) — duplicate edge points from
        overlapping writes collapse to a deterministic MAX(value) here;
        the operator itself preserves reference multiplicity."""
        meta, segments, wanted, info = self._per_series_read(name, fields, tags)
        out = grid_ops.edge_points(
            segments, meta.tag_columns, which,
            may_have_slow=info["may_have_slow"],
            fast_fraction=info["fast_fraction"],
            collapse_duplicates=True,
        )
        return self._named_field_output(out, meta, wanted)

    def value_at(
        self,
        name: str,
        at,
        fields: list[str] | None = None,
        method: str = "linear",
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """Every series' value at one timestamp (operators/gapfill.py::
        value_at): nearest-neighbor candidate segments found from
        metadata, O(series) decode, LOCF or linear interpolation.
        Output: (*tags, field, timestamp, value)."""
        from modelardb_rs_spark.operators.gapfill import value_at as value_at_op

        meta, segments, wanted, info = self._per_series_read(name, fields, tags)
        out = value_at_op(
            segments, meta.tag_columns, _to_us(at), method,
            may_have_slow=info["may_have_slow"],
            fast_fraction=info["fast_fraction"],
        )
        return self._named_field_output(out, meta, wanted)

    def outliers(
        self,
        name: str,
        z: float = 3.0,
        fields: list[str] | None = None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """Z-score outlier points per series (operators/anomaly.py):
        per-series mean/σ from segment statistics, then min/max envelope
        pruning decodes only segments that can cross μ ± z·σ. Output:
        (*tags, field, timestamp, value, zscore)."""
        from modelardb_rs_spark.operators.anomaly import zscore_outliers

        meta, segments, wanted, info = self._per_series_read(name, fields, tags)
        out = zscore_outliers(
            segments, meta.tag_columns, z,
            may_have_slow=info["may_have_slow"],
            fast_fraction=info["fast_fraction"],
        )
        return self._named_field_output(out, meta, wanted, "zscore")

    def m4(
        self,
        name: str,
        every,
        field: str,
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """M4 visualization downsampling (operators/downsample.py):
        first/last/min/max point per (series, bucket) — ≤ 4·buckets·series
        output points that render the exact line-chart envelope."""
        from modelardb_rs_spark.operators.downsample import m4_downsample

        meta = self.catalog.time_series_metadata(name)
        pts = self.table(name, fields=[field], start=start, end=end, tags=tags)
        return m4_downsample(
            pts.withColumnRenamed(field, "value"),
            meta.tag_columns,
            _interval_us(every),
            ts_col=meta.timestamp_column,
        )

    def histogram(
        self,
        name: str,
        field: str,
        lo: float,
        hi: float,
        nbins: int = 20,
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """Fixed-bin value histogram per series
        (operators/downsample.py::value_histogram)."""
        from modelardb_rs_spark.operators.downsample import value_histogram

        meta = self.catalog.time_series_metadata(name)
        pts = self.table(name, fields=[field], start=start, end=end, tags=tags)
        return value_histogram(
            pts.withColumnRenamed(field, "value"), meta.tag_columns, lo, hi, nbins
        )

    def series_spans(
        self,
        name: str,
        fields: list[str] | None = None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """Per-series coverage from metadata ONLY — first/last timestamp
        and point count per (series, field), zero decode. The staleness /
        inventory query a fleet dashboard runs continuously: at any scale
        it reads three narrow columns. Output: (*tags, field, first_ts,
        last_ts, n_points)."""
        meta, segments, wanted, _ = self._per_series_read(name, fields, tags)
        spans = segments.groupBy(*meta.tag_columns, "field_column").agg(
            F.min("start_time").alias("__f__"),
            F.max("end_time").alias("__l__"),
            F.sum("value_count").cast("long").alias("n_points"),
        )
        return spans.select(
            *meta.tag_columns,
            self._field_name(meta, wanted),
            F.timestamp_micros(F.col("__f__")).alias("first_ts"),
            F.timestamp_micros(F.col("__l__")).alias("last_ts"),
            "n_points",
        )

    def deltas(
        self,
        name: str,
        field: str,
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """Per-point finite difference / per-second rate
        (operators/series.py::deltas) over the gridded view."""
        from modelardb_rs_spark.operators.series import deltas as deltas_op

        meta = self.catalog.time_series_metadata(name)
        pts = self.table(name, fields=[field], start=start, end=end, tags=tags)
        return deltas_op(
            pts, meta.tag_columns, ts_col=meta.timestamp_column, value_col=field
        )

    def rolling_mean(
        self,
        name: str,
        field: str,
        n: int,
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """Trailing n-point mean per series
        (operators/series.py::rolling_mean)."""
        from modelardb_rs_spark.operators.series import rolling_mean as rm_op

        meta = self.catalog.time_series_metadata(name)
        pts = self.table(name, fields=[field], start=start, end=end, tags=tags)
        return rm_op(
            pts, meta.tag_columns, n, ts_col=meta.timestamp_column, value_col=field
        )

    def changepoints(
        self,
        name: str,
        field: str,
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """Single CUSUM mean-shift changepoint per series
        (operators/series.py::cusum_changepoint) over the gridded view.
        For long series, resample first and run the detector on bucket
        means — the pushdown keeps the detector's input tiny."""
        from modelardb_rs_spark.operators.series import cusum_changepoint

        meta = self.catalog.time_series_metadata(name)
        pts = self.table(name, fields=[field], start=start, end=end, tags=tags)
        return cusum_changepoint(
            pts, meta.tag_columns, ts_col=meta.timestamp_column, value_col=field
        )

    def first_points(
        self,
        name: str,
        fields: list[str] | None = None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """First observation per series — the symmetric read to
        last_points (min start_time instead of max end_time)."""
        return self.last_points(name, fields, tags, which="first")

    def correlate(
        self,
        name: str,
        field: str | None = None,
        every="1 hour",
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
        min_buckets: int = 2,
    ) -> DataFrame:
        """Pairwise Pearson correlation between this table's series
        (operators/correlate.py): per-bucket means come from the
        resample pushdown — model-typed segments contribute their bucket
        means in closed form without decoding — then one bucket-keyed
        self-join pairs the series. Output: (series_a, series_b,
        n_buckets, corr), series named by space-joined tag values."""
        from modelardb_rs_spark.operators.correlate import bucketed_correlation

        meta = self.catalog.time_series_metadata(name)
        fname = field or meta.field_names[0]
        res = self.resample(
            name, every, {fname: "avg"}, group_by=meta.tag_columns,
            start=start, end=end, tags=tags,
        )
        return bucketed_correlation(
            res, meta.tag_columns, "bucket", f"avg_{fname}", min_buckets
        )

    def periodicity(
        self,
        name: str,
        field: str | None = None,
        every="1 hour",
        periods=("6 hours", "12 hours", "1 day", "1 week"),
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
    ) -> DataFrame:
        """Dominant periodicity per series (operators/spectral.py):
        single-bin DFT power at each candidate period as pure Column
        algebra over resample-pushdown bucket means — 'is this sensor
        daily or weekly' without an FFT library. Output: (series,
        period_us, n, power) for each series' strongest candidate."""
        from modelardb_rs_spark.operators.spectral import dominant_period

        meta = self.catalog.time_series_metadata(name)
        fname = field or meta.field_names[0]
        res = self.resample(
            name, every, {fname: "avg"}, group_by=meta.tag_columns,
            start=start, end=end, tags=tags,
        )
        period_us = [_interval_us(p) for p in periods]
        return dominant_period(res, meta.tag_columns, period_us, "bucket", f"avg_{fname}")

    def seasonal_anomalies(
        self,
        name: str,
        field: str | None = None,
        every="1 hour",
        z: float = 3.0,
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
        min_season_samples: int = 3,
    ) -> DataFrame:
        """Hour-of-day seasonal anomaly detection over resample buckets
        (operators/anomaly.py::seasonal_bucket_anomalies): a bucket is
        anomalous relative to the SAME hour on other days, not the
        global mean. Bucket means come from the resample pushdown."""
        from modelardb_rs_spark.operators.anomaly import seasonal_bucket_anomalies

        meta = self.catalog.time_series_metadata(name)
        fname = field or meta.field_names[0]
        res = self.resample(
            name, every, {fname: "avg"}, group_by=meta.tag_columns,
            start=start, end=end, tags=tags,
        )
        return seasonal_bucket_anomalies(
            res, meta.tag_columns, z, "bucket", f"avg_{fname}", min_season_samples
        )

    def autocorrelate(
        self,
        name: str,
        field: str | None = None,
        every="1 hour",
        lag: int = 1,
        start=None,
        end=None,
        tags: dict[str, str] | None = None,
        min_pairs: int = 2,
    ) -> DataFrame:
        """Per-series lag autocorrelation over resampled buckets
        (operators/correlate.py::autocorrelation): bucket means come
        from the resample pushdown; ``lag`` counts buckets. Output:
        (series, n_pairs, autocorr)."""
        from modelardb_rs_spark.operators.correlate import autocorrelation

        meta = self.catalog.time_series_metadata(name)
        fname = field or meta.field_names[0]
        every_us = _interval_us(every)
        res = self.resample(
            name, every_us, {fname: "avg"}, group_by=meta.tag_columns,
            start=start, end=end, tags=tags,
        )
        return autocorrelation(
            res, meta.tag_columns, lag * every_us, "bucket", f"avg_{fname}", min_pairs
        )

    def stats(self, name: str) -> DataFrame:
        """Per-field segment statistics (the EXPLAIN ANALYZE metrics the
        reference's GridExec reports, grid_exec.rs:439-518): segment and
        point counts by model type, bytes, and time span — answered
        entirely from segment metadata columns."""
        meta = self.catalog.time_series_metadata(name)
        return (
            self.segments(name)
            .groupBy("field_column", "model_type_id")
            .agg(
                F.count("*").alias("n_segments"),
                F.sum(F.col("value_count").cast("long")).alias("n_points"),
                F.sum(
                    (F.octet_length("timestamps") + F.octet_length("values")).cast("long")
                ).alias("payload_bytes"),
                F.min("start_time").alias("min_start_time"),
                F.max("end_time").alias("max_end_time"),
            )
            .orderBy("field_column", "model_type_id")
        )

    # ----------------------------------------------------------------- copy

    def copy(self, sql: str, target: "Engine", table: str) -> None:
        """Run a query here and append the result to a table in another
        data folder (reference Operations::copy)."""
        target.write(table, self.read_sql(sql))

    def copy_time_series_table(self, name: str, target: "Engine") -> None:
        """Segment-level copy without re-compression
        (reference Operations::copy_time_series_table)."""
        meta = self.catalog.time_series_metadata(name)
        if not target.catalog.exists(name):
            target.create_time_series_table(meta)
        target.folder.write_segments(meta, self.segments(name))

    def move(self, name: str, target: "Engine") -> None:
        self.copy_time_series_table(name, target)
        self.drop(name)
