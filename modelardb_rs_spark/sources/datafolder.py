"""Data-folder storage layer: transactional Parquet under one root URI.

Reference: the Delta Lake "data folder" (tables/ + metadata/,
crates/modelardb_storage/src/data_folder/mod.rs:89-686 and
delta_table_writer.rs:42-110). The container has no Delta jars, so the
same guarantees come from a per-table JSON transaction log
(sources/txlog.py): atomic ACID appends, snapshot-isolated reads,
transactional TRUNCATE, VACUUM with a retention window, and time-travel
reads by version or timestamp.

    <root>/metadata/tables.json          catalog (catalog.py)
    <root>/tables/<name>/
        _txn/<version>.json              commit log
        txn=<uuid>/...                   one staged dir per committed write
            field_column=N/...parquet    ts tables: partitioned by field

All path operations go through the Hadoop FileSystem API
(sources/hadoopfs.py), so the root can be a local path, ``file://`` URI,
or an object-store scheme (``s3a://`` etc.) configured on the session —
reference open_s3/open_azure parity.

Segment writes stay sorted within partitions by (tags..., start_time)
exactly like the reference writer (delta_table_writer.rs:66-80), so
Parquet row-group min/max statistics on start_time/end_time stay tight
and time-range scans prune well. The staged directory is itself a
``txn=<uuid>`` Hive-style level, which keeps ``field_column`` a real
partition column for pruning while giving every commit a collision-free
namespace.
"""

from __future__ import annotations

import logging
import re
import threading
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from modelardb_rs_spark.frames import rows_frame
from modelardb_rs_spark.operators import aggregates as agg_ops
from modelardb_rs_spark.sources.hadoopfs import HadoopFS
from modelardb_rs_spark.sources.txlog import TransactionLog
from modelardb_rs_spark.types import TimeSeriesTableMetadata, segment_schema

# Reference VACUUM default: 7-day retention (data_folder/mod.rs:582-686).
DEFAULT_RETENTION_SECONDS = 7 * 24 * 3600

# Files at or above this fraction of the target are already "right-sized"
# and never rewritten by OPTIMIZE (Delta uses the same idea: minFileSize).
_OPTIMIZE_SMALL_FRACTION = 0.75

# Commits staging more files than this compute their per-file stats with
# one distributed job instead of driver-side footer reads.
_DRIVER_STATS_MAX_FILES = 64

# A file holding more series than this records no per-series rows in its
# add-entry. A row is ~135 bytes of JSON; a checkpoint of 64 files at the
# cap is 1.1 MB and parses in 15 ms on a 4-core host (256 series: 2.1 MB,
# 39 ms), so a wide commit stays cheap for every snapshot that reads it.
_SERIES_ROWS_MAX = 128
# Segment rows per batch when a file's series rows are computed (~50
# bytes each: tags plus the seven stats columns), so a commit's threaded
# footer reads hold ~3 MB per file whatever the file size.
_SERIES_BATCH_ROWS = 65536

# The compaction rule, evaluated when an append commits: a live file
# under COMPACT_SMALL_FILE_BYTES is small, the small files beyond one per
# partition directory are mergeable, and COMPACT_MIN_MERGEABLE of them
# run OPTIMIZE. At 1000x ingest rates the FILE COUNT, not the byte count,
# is what degrades scan planning (SCALE.md), so every append path keeps
# it bounded the same way.
COMPACT_MIN_MERGEABLE = 48
COMPACT_SMALL_FILE_BYTES = 8 << 20

# OPTIMIZE attempts: a concurrent OPTIMIZE that removed this one's inputs
# already merged them, so each retry plans from a fresh snapshot.
_OPTIMIZE_ATTEMPTS = 4

_logger = logging.getLogger(__name__)


class ConcurrentModificationError(RuntimeError):
    """A transactional rewrite lost a race: files it read were removed
    from the live set before it could commit. Retry against the new
    snapshot."""


class _InputsCompacted(ConcurrentModificationError):
    """An OPTIMIZE lost its inputs to another OPTIMIZE, which already
    merged them: planning again from a fresh snapshot is the retry."""


def _parquet_segment_stats(
    fs: HadoopFS, uri: str, size: int, tag_columns: list[str] | None = None
) -> dict | None:
    """Per-file stats from the Parquet FOOTER plus a few narrow columns —
    no Spark job. ``file:`` URIs read via pyarrow directly; other
    schemes go through a seekable Hadoop stream. Returns
    ``{"span": (min start_time, max end_time) | None,
       "all_fast": bool | None,
       "fast_points": int | None, "total_points": int | None,
       "series": list | None}``.
    ``all_fast`` means every segment in the file is JVM-reconstructable
    (max model_type_id < GORILLA and max ts_kind == 0) so readers can
    drop the Python decode branch; ``fast_points``/``total_points`` are
    the decoded-point counts per branch (sum of value_count), letting
    readers drop the JVM branch when fast points are negligible — each
    extra branch is an extra scan of the segment files.
    ``series`` (only with ``tag_columns``) holds one stats row per
    series of the file (``aggregates.series_rows``), or None when the
    file has more than ``_SERIES_ROWS_MAX`` series or NULL stats.
    Returns None (conservative) when the footer is unreadable."""
    stream = None
    try:
        if uri.startswith("file:"):
            from urllib.parse import urlparse

            pf = pq.ParquetFile(urlparse(uri).path)
        else:
            stream = fs.open_seekable(uri, size)
            pf = pq.ParquetFile(stream)
        md = pf.metadata
    except Exception:
        if stream is not None:
            stream.close()
        return None
    lo = hi = None
    max_model = max_ts_kind = None
    # a NULL ts_kind (a row written before the column existed, carried
    # by a rewrite) decodes in Python, whatever the non-NULL maximum says
    null_ts_kind = False
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            st = col.statistics
            if col.path_in_schema == "ts_kind" and st is not None and st.has_null_count:
                null_ts_kind |= st.null_count > 0
            if st is None or not st.has_min_max:
                continue
            if col.path_in_schema == "start_time":
                lo = st.min if lo is None else min(lo, st.min)
            elif col.path_in_schema == "end_time":
                hi = st.max if hi is None else max(hi, st.max)
            elif col.path_in_schema == "model_type_id":
                max_model = st.max if max_model is None else max(max_model, st.max)
            elif col.path_in_schema == "ts_kind":
                max_ts_kind = st.max if max_ts_kind is None else max(max_ts_kind, st.max)
    from modelardb_rs_spark.types import GORILLA_ID

    all_fast = None
    if max_model is not None and max_ts_kind is not None:
        all_fast = bool(
            int(max_model) < GORILLA_ID and int(max_ts_kind) == 0 and not null_ts_kind
        )
    fast_points = total_points = series = None
    try:
        # Three narrow columns (two int8, one int32) — a few KB even for
        # files holding 100k+ segments; the file handle is already open.
        tbl = pf.read(columns=["model_type_id", "ts_kind", "value_count"])
        import pyarrow.compute as pc

        counts = tbl.column("value_count")
        fast_mask = pc.and_(
            pc.less(tbl.column("model_type_id"), GORILLA_ID),
            pc.equal(pc.fill_null(tbl.column("ts_kind"), 1), 0),
        )
        total_points = int(pc.sum(counts).as_py() or 0)
        fast_points = int(
            pc.sum(pc.if_else(pc.fill_null(fast_mask, False), counts, 0)).as_py() or 0
        )
        if tag_columns is not None:
            columns = [*tag_columns, *agg_ops.SERIES_STATS_COLUMNS]
            if set(columns) <= set(pf.schema_arrow.names):
                series = agg_ops.series_rows(
                    pf.iter_batches(batch_size=_SERIES_BATCH_ROWS, columns=columns),
                    tag_columns,
                    _SERIES_ROWS_MAX,
                )
    except Exception:
        pass
    finally:
        if stream is not None:
            stream.close()
    return {
        "span": (int(lo), int(hi)) if lo is not None and hi is not None else None,
        "all_fast": all_fast,
        "fast_points": fast_points,
        "total_points": total_points,
        "series": series,
    }


def _parquet_num_rows(fs: HadoopFS, uri: str, size: int) -> int | None:
    """Row count from the Parquet footer — a KB-sized ranged read, no
    Spark job. Returns None (conservative) when unreadable. Recorded in
    every normal-table add entry so readers can answer count-shaped
    questions (e.g. the ANN index's per-bucket sizes, which pair the
    count with the ``ivf_bucket=`` partition value in the path) from
    the commit log alone — zero jobs, zero file scans."""
    stream = None
    try:
        if uri.startswith("file:"):
            from urllib.parse import urlparse

            pf = pq.ParquetFile(urlparse(uri).path)
        else:
            stream = fs.open_seekable(uri, size)
            pf = pq.ParquetFile(stream)
        return int(pf.metadata.num_rows)
    except Exception:
        return None
    finally:
        if stream is not None:
            stream.close()


def _mergeable_files(files: list[dict]) -> int:
    """Small files beyond one per partition directory (``field_column=N/``,
    ``ivf_bucket=N/`` or the table root): the files OPTIMIZE would fold
    into the ones it keeps per directory."""
    small = [f["path"] for f in files if f["size"] < COMPACT_SMALL_FILE_BYTES]
    return len(small) - len({"/".join(p.split("/")[1:-1]) for p in small})


class DataFolder:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.fs = HadoopFS(spark, root)
        self.root = self.fs.base
        self.tables_dir = self.fs.join(self.root, "tables")
        self.metadata_dir = self.fs.join(self.root, "metadata")
        self.fs.mkdirs(self.tables_dir)
        self.fs.mkdirs(self.metadata_dir)
        self._logs: dict[str, TransactionLog] = {}
        self._df_cache: dict[tuple, DataFrame] = {}
        # one append-triggered compaction per table at a time in this
        # process: concurrent puts that all cross the threshold would
        # otherwise each rewrite the table and all but one lose the commit
        self._compacting: dict[str, threading.Lock] = {}

    def table_path(self, name: str) -> str:
        return self.fs.join(self.tables_dir, name)

    def log(self, name: str) -> TransactionLog:
        if name not in self._logs:
            self._logs[name] = TransactionLog(self.fs, self.table_path(name))
        return self._logs[name]

    def mirror_healthy(self, name: str) -> bool:
        """Whether table ``name``'s stock-Delta mirror is still being
        maintained (see TransactionLog.mirror_healthy). A False here
        means external Delta readers are pinned at an old version while
        this engine keeps working — check after VACUUM with aggressive
        retention or any storage-level surgery on ``_txn`` history."""
        return self.log(name).mirror_healthy

    # -------------------------------------------------------- write/commit

    def _stage_and_commit(
        self,
        name: str,
        write_staged,
        op: str = "append",
        segment_tags: list[str] | None = None,
        remove: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        replace_expected: list[str] | None = None,
        commit_meta: dict | None = None,
        expected_meta: tuple[str, object] | None = None,
    ) -> int | None:
        """Run `write_staged(staged_uri)` into a fresh txn= directory,
        then commit the produced parquet files atomically.

        ``segment_tags`` (the tag columns of a time series table) makes
        each add-entry also record the file's field_column (from the
        partition path) and min/max time span — Delta-style data
        skipping: readers prune files driver-side from the log before
        Spark ever lists or opens them. Spans come from the Parquet
        FOOTERS (KB-sized ranged reads, threaded across files), not a
        Spark job — commit latency stays flat no matter how wide the
        table is. A commit of at most ``_DRIVER_STATS_MAX_FILES`` files
        also records ``series``: one stats row per series (tag tuple)
        of each file, read from its narrow columns, which lets simple
        aggregates and the duplicate-points proof skip the files.

        ``remove`` lists rel-paths this commit replaces (OPTIMIZE). The
        commit aborts if any of them left the live set concurrently —
        re-adding their data then would resurrect truncated/compacted
        rows (Delta's ConcurrentDeleteReadException semantics).

        ``expected_meta=(key, value)`` makes the commit conditional on
        the snapshot's meta payload still carrying ``value`` under
        ``key`` at commit time — the guard for writes whose CONTENT was
        derived from the meta (an ANN append assigns vectors against
        the centroids in the meta; if a rebuild swaps them mid-flight
        the staged rows belong to a geometry that no longer exists, so
        the commit must abort and the caller re-derive). Checked on
        every optimistic-retry snapshot, like ``replace_expected``.

        ``commit_meta`` may be a CALLABLE: it is invoked once with the
        staged ADD-ENTRY list (paths, sizes, and — for normal tables —
        per-file ``num_rows``), after the staged write job has run and
        before the commit, and must return the meta dict. This is the
        hook that lets a meta payload incorporate statistics of the
        write itself: the ANN builds derive their per-bucket counts
        from the entries' ``num_rows`` + ``ivf_bucket=`` path values,
        saving the separate counts pass the eager form required.

        Every ``op="append"`` commit then applies the compaction rule:
        at ``COMPACT_MIN_MERGEABLE`` mergeable files (``_mergeable_files``)
        it compacts the table (``_compact_after_append``). No other op
        triggers it."""
        table = self.table_path(name)
        staged_rel = f"txn={uuid.uuid4().hex[:16]}"
        staged = self.fs.join(table, staged_rel)
        write_staged(staged)
        add = []
        for info in self.fs.list_files_recursive(staged):
            if not info.path.endswith(".parquet"):
                continue
            rel = staged_rel + info.path.split(staged_rel, 1)[1]
            entry = {"path": rel, "size": info.size}
            m = re.search(r"field_column=(\d+)/", rel)
            if m:
                entry["field_column"] = int(m.group(1))
            add.append(entry)
        if segment_tags is not None and len(add) > _DRIVER_STATS_MAX_FILES:
            # wide commit: ONE distributed job computes every file's
            # stats (narrow columns only) — the driver reading
            # thousands of footers serially would become the commit
            # bottleneck on a real cluster
            stats = self._segment_stats_job(staged, staged_rel, add)
        else:
            # footer reads (KB-sized ranged reads, threaded across
            # files): segment stats, or a normal table's row counts
            def footer(entry: dict):
                uri = self.fs.join(table, entry["path"])
                if segment_tags is None:
                    return _parquet_num_rows(self.fs, uri, entry["size"])
                return _parquet_segment_stats(self.fs, uri, entry["size"], segment_tags)

            if len(add) <= 1:
                stats = [footer(entry) for entry in add]
            else:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(min(16, len(add))) as pool:
                    stats = list(pool.map(footer, add))
        for entry, st in zip(add, stats):
            if st is None:
                continue
            if segment_tags is None:
                entry["num_rows"] = st
            else:
                if st["span"] is not None:
                    entry["min_start_time"], entry["max_end_time"] = st["span"]
                if st["all_fast"] is not None:
                    entry["all_fast"] = st["all_fast"]
                if st.get("total_points") is not None:
                    entry["fast_points"] = st["fast_points"]
                    entry["total_points"] = st["total_points"]
                if st.get("series") is not None:
                    entry["series"] = st["series"]
        if callable(commit_meta):
            commit_meta = commit_meta(add)
        remove_set = set(remove or [])
        expected_set = set(replace_expected) if replace_expected is not None else None
        base = None

        def build(snap):
            nonlocal base
            base = snap
            if expected_meta is not None:
                mk, mv = expected_meta
                cur = (snap.meta or {}).get(mk)
                if cur != mv:
                    raise ConcurrentModificationError(
                        f"{name}: commit meta[{mk!r}] changed concurrently "
                        f"({mv!r} -> {cur!r}); the staged write was derived "
                        "from superseded metadata — re-derive and retry"
                    )
            if expected_set is not None:
                # full-replace commit: the staged data was computed FROM
                # expected_set, so ANY concurrent change to the live set
                # (an append's add as much as a remove) would be silently
                # dropped by the replace — abort instead
                live = set(snap.paths)
                if live != expected_set:
                    delta = len(live ^ expected_set)
                    raise ConcurrentModificationError(
                        f"{name}: live file set changed concurrently "
                        f"({delta} file(s) differ from the snapshot the "
                        "replacement was computed from); re-run the rebuild"
                    )
                if commit_meta is not None:
                    return (op, add, sorted(live), commit_meta)
                return (op, add, sorted(live))
            gone = remove_set - set(snap.paths)
            if gone:
                raise ConcurrentModificationError(
                    f"{name}: {len(gone)} input file(s) were removed concurrently "
                    f"(e.g. {sorted(gone)[0]}); retry the operation"
                )
            if commit_meta is not None:
                return (op, add, sorted(remove_set), commit_meta)
            return (op, add, sorted(remove_set))

        def discard_staged() -> None:
            # no commit references the staged files: delete them now
            # rather than waiting for vacuum
            try:
                self.fs.delete(staged, recursive=True)
            except Exception:
                pass

        try:
            committed = self.log(name).commit(build, txn=txn)
        except ConcurrentModificationError:
            discard_staged()
            raise
        if committed is None:
            # txn already applied (an at-least-once replay lost the race)
            discard_staged()
            return None
        if op == "append" and _mergeable_files(base.files + add) >= COMPACT_MIN_MERGEABLE:
            # the compaction rule, counted on the snapshot the append was
            # built against plus its own adds: an append that does not
            # compact lists no log and starts no job
            self._compact_after_append(name, segment_tags)
        return committed

    def _compact_after_append(self, name: str, tag_columns: list[str] | None) -> None:
        """One best-effort compaction attempt after an append committed:
        a failure must not fail the write, whose rows are already in the
        table (a retry without ``txn`` would append them twice). A lost
        race, or another append of this process compacting the table,
        needs no retry: the next append re-checks the rule."""
        lock = self._compacting.setdefault(name, threading.Lock())
        if not lock.acquire(blocking=False):
            return
        try:
            self._compact(name, tag_columns=tag_columns)
        except ConcurrentModificationError:
            pass
        except Exception:
            _logger.warning(
                "compaction of %s after a committed append failed", name, exc_info=True
            )
        finally:
            lock.release()

    # -------------------------------------------------------- read helpers

    _DF_CACHE_MAX = 256

    def _segment_stats_job(
        self, staged: str, staged_rel: str, add: list[dict]
    ) -> list[dict | None]:
        """Per-file commit stats via one Spark job over the staged
        directory: group by input_file_name over FIVE narrow columns.
        Same outputs as _parquet_segment_stats, computed where the data
        lives — commit latency stays flat no matter how many files one
        transaction stages — except ``series``: a wide commit records no
        series rows, so its files keep readers on the Spark paths."""
        from modelardb_rs_spark.types import GORILLA_ID

        df = self.spark.read.parquet(staged)
        fast = (
            (F.col("model_type_id") < F.lit(GORILLA_ID))
            & (F.coalesce(F.col("ts_kind"), F.lit(1)) == F.lit(0))
        )
        rows = (
            df.groupBy(F.input_file_name().alias("__f__"))
            .agg(
                F.min("start_time").alias("lo"),
                F.max("end_time").alias("hi"),
                F.max("model_type_id").alias("mm"),
                F.max(F.coalesce(F.col("ts_kind"), F.lit(1))).alias("mk"),
                F.sum("value_count").alias("tp"),
                F.sum(F.when(fast, F.col("value_count")).otherwise(F.lit(0))).alias("fp"),
            )
            .collect()
        )
        by_rel: dict[str, dict] = {}
        marker = staged_rel + "/"
        for r in rows:
            fname = r["__f__"]
            idx = fname.find(marker)
            if idx < 0:
                continue
            by_rel[fname[idx:]] = {
                "span": (int(r["lo"]), int(r["hi"]))
                if r["lo"] is not None and r["hi"] is not None
                else None,
                "all_fast": bool(int(r["mm"]) < GORILLA_ID and int(r["mk"]) == 0)
                if r["mm"] is not None
                else None,
                "fast_points": int(r["fp"] or 0),
                "total_points": int(r["tp"] or 0),
            }
        return [by_rel.get(entry["path"]) for entry in add]

    def _read(self, name: str, rel_paths: list[str], schema=None) -> DataFrame:
        """The one reader of table files: table-relative ``rel_paths`` as
        a frame. With ``schema`` (the declared segment layout, or a
        normal table's catalog schema) the read skips footer-based
        schema inference, Spark fills columns absent from older files
        with NULL, and exactly the declared columns come back. Without
        it (OPTIMIZE of a normal table, whose schema the catalog holds)
        the ``txn`` staging partition is dropped; other Hive partitions
        (``ivf_bucket=``) stay.

        The frame is cached per (table, path set, schema): DataFrames
        are immutable plans, and data files under ``txn=`` staging are
        never rewritten in place, so the same path set always reads the
        same bytes — repeated queries skip the JVM-side DataSource
        resolution + file-index build entirely."""
        if not rel_paths:
            return rows_frame(self.spark, [], schema)
        table = self.table_path(name)
        paths = [self.fs.join(table, p) for p in rel_paths]
        key = (name, hash(tuple(paths)), None if schema is None else schema.simpleString())
        df = self._df_cache.get(key)
        if df is None:
            reader = self.spark.read.option("basePath", table)
            if schema is None:
                df = reader.parquet(*paths).drop("txn")
            else:
                df = reader.schema(schema).parquet(*paths).select(*schema.fieldNames())
            if len(self._df_cache) >= self._DF_CACHE_MAX:
                self._df_cache.clear()
            self._df_cache[key] = df
        return df

    def _commit_segments(
        self,
        name: str,
        tag_columns: list[str],
        segments: DataFrame,
        range_partitions: int | None = None,
        **commit,
    ) -> int | None:
        """The one Spark writer of segment files: partitioned by
        field_column, sorted within partitions by (field_column,
        tags..., start_time), zstd, then committed with ``commit``
        (``_stage_and_commit`` keywords). Sorting keeps one open Parquet
        writer at a time per dynamic partition and tight row-group
        stats within each file. ``range_partitions`` range-partitions
        the rows on (field_column, start_time) first, so rewritten
        files become near-disjoint time slices (OPTIMIZE, resegment)."""

        def write_staged(staged: str) -> None:
            out = segments
            if range_partitions is not None:
                out = out.repartitionByRange(
                    range_partitions, F.col("field_column"), F.col("start_time")
                )
            (
                out.sortWithinPartitions("field_column", *tag_columns, "start_time")
                .write.partitionBy("field_column")
                # the reference fixes ZSTD for segment storage
                # (modelardb_storage/src/lib.rs:255); ~20-40% smaller than
                # snappy on codec payloads at negligible decode cost
                .option("compression", "zstd")
                .parquet(staged)
            )

        return self._stage_and_commit(name, write_staged, segment_tags=tag_columns, **commit)

    def _commit_normal(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        n_files: int | None = None,
        **commit,
    ) -> int | None:
        """The one writer of normal-table files: zstd, Hive-partitioned
        on ``partition_by`` when given, then committed with ``commit``
        (``_stage_and_commit`` keywords). ``n_files`` repartitions the
        rows first (on the partition columns, if any) — OPTIMIZE's
        target file count."""

        def write_staged(staged: str) -> None:
            out = df
            if n_files is not None:
                out = out.repartition(n_files, *[F.col(c) for c in partition_by or []])
            writer = out.write.option("compression", "zstd")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(staged)

        return self._stage_and_commit(name, write_staged, **commit)

    # -- segments (time series tables) -------------------------------------

    def write_segments(
        self,
        meta: TimeSeriesTableMetadata,
        segments: DataFrame | pd.DataFrame,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """Atomically append segment rows, partitioned by field_column,
        sorted within partitions by (tags..., start_time). Returns the
        committed version, or None when a txn replay gate skipped the
        commit. A pandas frame (segments fitted on the driver) is written
        without a Spark job: one zstd file per ``field_column=N/``
        directory, through pyarrow and the Hadoop FS."""
        if not isinstance(segments, pd.DataFrame):
            # No repartition: the compressor already co-located each
            # series' segments in one task; an extra shuffle here would
            # double the write cost.
            return self._commit_segments(meta.name, meta.tag_columns, segments, txn=txn)

        def write_frame(staged: str) -> None:
            if not len(segments):
                return
            schema = to_arrow_schema(segment_schema(meta.tag_columns))
            body = pa.schema([f for f in schema if f.name != "field_column"])
            # Spark's ascending sort puts NULL tags first
            frame = segments.sort_values(
                ["field_column", *meta.tag_columns, "start_time"],
                na_position="first", kind="stable",
            )
            for idx, part in frame.groupby("field_column", sort=True):
                table = pa.Table.from_pandas(part, schema=body, preserve_index=False)
                sink = pa.BufferOutputStream()
                pq.write_table(table.replace_schema_metadata(None), sink, compression="zstd")
                self.fs.write_bytes(
                    self.fs.join(
                        staged,
                        f"field_column={idx}",
                        f"part-00000-{uuid.uuid4()}.c000.zstd.parquet",
                    ),
                    sink.getvalue().to_pybytes(),
                )

        return self._stage_and_commit(
            meta.name, write_frame, segment_tags=meta.tag_columns, txn=txn
        )

    def limit_time_cutoff(self, name: str, n: int) -> int | None:
        """Inclusive end-time cutoff S (µs) such that reading only
        points with timestamp <= S is guaranteed to reconstruct at
        least ``n`` rows — the LIMIT-pushdown bound (reference pushes
        LIMIT into the scan, time_series_table.rs:447 +
        grid_exec.rs:239-246).

        Driver-side over commit-log file stats, no I/O: walk files in
        ``max_end_time`` order accumulating per-field ``total_points``;
        the first S where ANY single field's accumulated count reaches
        ``n`` works, because every reconstructed row at a timestamp
        carries at least that field's multiplicity there — so rows with
        ts <= S >= that field's point count <= S >= n. Unstatted files
        are skipped conservatively (they can only ADD rows under S).
        Returns None when stats can't prove ``n`` rows (small table,
        missing stats) — caller scans everything."""
        statted = [
            f
            for f in self.log(name).snapshot().files
            if f.get("max_end_time") is not None and f.get("total_points")
        ]
        statted.sort(key=lambda f: f["max_end_time"])
        acc: dict[int | None, int] = {}
        for f in statted:
            fc = f.get("field_column")
            acc[fc] = acc.get(fc, 0) + f["total_points"]
            if acc[fc] >= n:
                return f["max_end_time"]
        return None

    def read_segments(
        self,
        meta: TimeSeriesTableMetadata,
        version: int | None = None,
        timestamp_ms: int | None = None,
        start_us: int | None = None,
        end_us: int | None = None,
        field_indexes: list[int] | None = None,
        with_info: bool = False,
    ) -> DataFrame:
        """Snapshot-isolated segment read; `version`/`timestamp_ms` select
        an older snapshot (time travel). `start_us`/`end_us`/
        `field_indexes` prune files driver-side from the per-file stats
        recorded at commit time — at scale a narrow time range touches a
        handful of files out of millions without a single LIST call.
        Files lacking stats are conservatively kept, and the exact
        predicates are re-applied by the caller, so skipping is always
        semantics-preserving.

        ``with_info=True`` returns ``(df, info)`` where
        ``info["may_have_slow"]`` is False only when every live file's
        commit-log stats prove all segments are JVM-reconstructable
        (model-typed, regular timestamps) — the grid view then omits the
        Python decode branch from the plan entirely.
        ``info["fast_fraction"]`` is the fraction of points decodable by
        the JVM fast path, from commit-log point counts (None when any
        live file lacks them) — the grid view drops the JVM branch (and
        its second scan of the segment files) when it's negligible."""
        snap = self.log(meta.name).snapshot(version, timestamp_ms)
        if start_us is not None or end_us is not None or field_indexes is not None:
            fields = set(field_indexes) if field_indexes is not None else None

            def keep(f: dict) -> bool:
                if fields is not None and f.get("field_column") is not None:
                    if f["field_column"] not in fields:
                        return False
                lo, hi = f.get("min_start_time"), f.get("max_end_time")
                if lo is None or hi is None:
                    return True
                if start_us is not None and hi < start_us:
                    return False
                if end_us is not None and lo > end_us:
                    return False
                return True

            snap.files = [f for f in snap.files if keep(f)]
        may_have_slow = any(not f.get("all_fast", False) for f in snap.files)
        fast_fraction = None
        if snap.files and all(f.get("total_points") is not None for f in snap.files):
            total = sum(f["total_points"] for f in snap.files)
            fast = sum(f["fast_points"] for f in snap.files)
            fast_fraction = (fast / total) if total else 1.0
        df = self._read(meta.name, snap.paths, segment_schema(meta.tag_columns))
        info = {
            "may_have_slow": may_have_slow,
            "fast_fraction": fast_fraction,
            "version": snap.version,
            "n_files": len(snap.files),
            "paths_hash": hash(tuple(sorted(snap.paths))),
        }
        return (df, info) if with_info else df

    # -- normal tables ------------------------------------------------------

    def write_normal(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        commit_meta: dict | None = None,
        expected_meta: tuple[str, object] | None = None,
    ) -> int | None:
        """Atomically append rows to a normal table. Returns the
        committed version, or None when a txn replay gate skipped the
        commit. ``partition_by`` lays the files out Hive-style on those
        columns, so equality/IN filters on them prune whole directories
        at planning time (the ANN index stores vectors partitioned by
        bucket this way). ``txn=(app_id, version)`` records a
        SetTransaction-style replay gate atomically with the append (see
        TransactionLog.commit). ``commit_meta`` attaches an application
        metadata payload to the same commit (Snapshot.meta)."""
        return self._commit_normal(
            name, df, partition_by, txn=txn, commit_meta=commit_meta,
            expected_meta=expected_meta,
        )

    def replace_normal(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        expected_paths: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        commit_meta: dict | None = None,
    ) -> int:
        """Atomically REPLACE a normal table's entire live file set in
        ONE commit (the Delta overwrite analog): readers resolve either
        the old snapshot or the new one, never an empty or partial
        table — the availability contract an index rebuild needs (a
        drop + recreate leaves a window where the table is missing).
        Old files stay on disk for time travel until VACUUM, like any
        other remove.

        ``expected_paths`` (default: the live set at call time) makes
        the replace CONDITIONAL: the commit aborts with
        ConcurrentModificationError if the live set no longer equals
        the snapshot the replacement was computed from — a concurrent
        append's rows would otherwise be silently dropped. Callers
        re-run the rebuild on conflict (snapshot-isolation semantics,
        same contract the reference's transactional folder gives
        rewrites, modelardb_storage/src/data_folder/mod.rs)."""
        if expected_paths is None:
            expected_paths = list(self.log(name).snapshot().paths)
        return self._commit_normal(
            name, df, partition_by, op="replace", replace_expected=expected_paths,
            txn=txn, commit_meta=commit_meta,
        )

    def last_txn_version(self, name: str, app_id: str) -> int | None:
        """Latest application-transaction version recorded for
        ``app_id`` on table ``name`` (None if never recorded) — the
        cheap pre-check streaming sinks use to skip a replayed epoch
        before launching any Spark job."""
        return self.log(name).snapshot().txns.get(app_id)

    def read_normal(
        self,
        name: str,
        schema,
        version: int | None = None,
        timestamp_ms: int | None = None,
    ) -> DataFrame:
        return self._read(name, self.log(name).snapshot(version, timestamp_ms).paths, schema)

    # -- maintenance ---------------------------------------------------------

    def optimize(
        self,
        name: str,
        target_file_bytes: int = 128 << 20,
        tag_columns: list[str] | None = None,
    ) -> dict:
        """Compact small live files into ~target-sized ones in ONE
        transactional commit (Delta OPTIMIZE / bin-packing analog).
        Streaming ingest necessarily writes many small commits; at scale
        the resulting file count — not the byte count — dominates scan
        planning and open() overhead, so compaction is what keeps a
        frequently-appended table scannable. Old files stay on disk for
        time travel until VACUUM, exactly like any other remove.

        Pass ``tag_columns`` for time series tables: the rewrite then
        keeps the field_column partitioning and the (tags, start_time)
        sort order, and RANGE-partitions the output on (field_column,
        start_time) — ingest's volume-bucketed shuffle hash-scatters time buckets
        across files (wide per-file time spans), whereas compacted files
        become near-disjoint time slices, so commit-log span pruning
        skips almost everything outside a query's range and later
        ``expire`` calls hit the metadata-only path (the Delta
        OPTIMIZE+ZORDER-by-time analog; repartitionByRange's sampling
        pass is fine in a maintenance op). Returns
        ``{"compacted", "produced", "version"}``.

        A concurrent OPTIMIZE (an append's compaction or another caller's)
        that removes this one's inputs makes it plan again from a fresh
        snapshot, up to ``_OPTIMIZE_ATTEMPTS`` times: the winner already
        merged those files, so the retry compacts what is left or
        returns the no-op result. Inputs a TRUNCATE, expire or replace
        removed raise ConcurrentModificationError.
        """
        for attempt in range(1, _OPTIMIZE_ATTEMPTS + 1):
            try:
                return self._compact(name, target_file_bytes, tag_columns)
            except _InputsCompacted:
                if attempt == _OPTIMIZE_ATTEMPTS:
                    raise

    def _compact(
        self,
        name: str,
        target_file_bytes: int = 128 << 20,
        tag_columns: list[str] | None = None,
    ) -> dict:
        """One OPTIMIZE attempt on the current snapshot (see
        ``optimize``); raises ConcurrentModificationError when a
        concurrent rewrite removed its inputs."""
        snap = self.log(name).snapshot()
        small = [f for f in snap.files if f["size"] < target_file_bytes * _OPTIMIZE_SMALL_FRACTION]
        if len(small) < 2:
            return {"compacted": 0, "produced": 0, "version": snap.version}
        if tag_columns is None:
            # Normal tables may be Hive-partitioned per write (the ANN
            # vectors tables lay out ivf_bucket= dirs for planning-time
            # pruning). The layout isn't cataloged, but it IS in every
            # live path — the col=value segments between the txn= level
            # and the file — so infer it BEFORE reading (a mixed-layout
            # multi-path read fails outright) and keep it: a flat
            # rewrite would strand partition values as in-file data
            # next to path-encoded ones and silently drop the pruning
            # the layout buys.
            schemes = {
                tuple(seg.split("=", 1)[0] for seg in f["path"].split("/")[1:-1] if "=" in seg)
                for f in small
            }
            if len(schemes) != 1:
                # two writes disagreed on layout — refuse to guess; a
                # rebuild (not compaction) is the safe repair. WARN
                # rather than return silently: the compaction rule
                # re-tries after every append (the threshold stays
                # crossed), so a silent no-op here means the table's
                # file count grows forever with no signal to the operator.
                _logger.warning(
                    "optimize(%s): live files carry %d different Hive partition layouts "
                    "(%s) — refusing to compact a mixed layout; rewrite the table with "
                    "one consistent partition_by to restore compaction",
                    name, len(schemes), sorted(schemes),
                )
                return {"compacted": 0, "produced": 0, "version": snap.version,
                        "mixed_layouts": sorted(schemes)}
        paths = [f["path"] for f in small]
        n_out = max(1, -(-sum(f["size"] for f in small) // target_file_bytes))
        try:
            if tag_columns is not None:
                version = self._commit_segments(
                    name, tag_columns, self._read(name, paths, segment_schema(tag_columns)),
                    range_partitions=n_out, op="optimize", remove=paths,
                )
            else:
                version = self._commit_normal(
                    name, self._read(name, paths), list(schemes.pop()), n_files=n_out,
                    op="optimize", remove=paths,
                )
        except Exception as exc:
            # inputs a concurrent commit removed fail the commit, or (once
            # a vacuum deleted them) the read: a lost race, not a fault
            log = self.log(name)
            gone = set(paths) - set(log.snapshot().paths)
            if not gone:
                raise
            removers = set()
            for v in (v for v in log.versions() if v > snap.version):
                try:
                    doc = log.read_commit(v)
                except Exception:
                    continue  # vacuumed since the listing
                if gone.intersection(doc.get("remove", [])):
                    removers.add(doc["op"])
            # a TRUNCATE, expire or replace that took the inputs is the
            # caller's to see; a commit the log no longer holds can only
            # be one a retry plans around safely, like an OPTIMIZE
            lost = ConcurrentModificationError if removers - {"optimize"} else _InputsCompacted
            raise lost(
                f"{name}: {len(gone)} input file(s) were removed concurrently "
                f"(e.g. {sorted(gone)[0]}); retry the operation"
            ) from exc
        produced = len(self.log(name).read_commit(version).get("add", []))
        return {"compacted": len(small), "produced": produced, "version": version}

    def expire_segments_before(
        self,
        meta: TimeSeriesTableMetadata,
        cutoff_us: int,
        not_before_us: int | None = None,
    ) -> dict:
        """Transactional time-range retention (DELETE WHERE timestamp <
        cutoff, or WHERE not_before <= timestamp < cutoff when a lower
        bound is given) — see operators/retention.py for the three cost
        classes. Files entirely inside the deletion window are removed
        metadata-only from the commit-log stats; boundary files are
        rewritten (verbatim for fully-kept segments, lossless re-encode
        for straddlers); one atomic commit covers both. Concurrent
        appends are untouched. The lower bound exists for policies that
        must preserve late-arriving points below an already-processed
        watermark (Engine.downsample_expire). Returns
        {"files_removed", "files_rewritten", "version"}."""
        from modelardb_rs_spark.operators.retention import split_boundary_segments

        name = meta.name
        snap = self.log(name).snapshot()
        old, boundary = [], []
        for f in snap.files:
            lo, hi = f.get("min_start_time"), f.get("max_end_time")
            fully_inside = (
                hi is not None
                and hi < cutoff_us
                and (not_before_us is None or (lo is not None and lo >= not_before_us))
            )
            untouched = (lo is not None and lo >= cutoff_us) or (
                not_before_us is not None and hi is not None and hi < not_before_us
            )
            if fully_inside:
                old.append(f["path"])
            elif not untouched:
                # conservative: stats-less files go through the rewrite,
                # which keeps fully-outside segments verbatim
                boundary.append(f["path"])
        if not old and not boundary:
            return {"files_removed": 0, "files_rewritten": 0, "version": snap.version}
        if not boundary:
            old_set = set(old)

            def build(s):
                gone = old_set - set(s.paths)
                if gone:
                    raise ConcurrentModificationError(
                        f"{name}: {len(gone)} file(s) to expire were removed "
                        f"concurrently; retry"
                    )
                return ("expire", [], sorted(old_set))

            version = self.log(name).commit(build)
            return {"files_removed": len(old), "files_rewritten": 0, "version": version}

        kept = split_boundary_segments(
            self._read(name, boundary, segment_schema(meta.tag_columns)),
            meta.tag_columns, cutoff_us, not_before_us,
        )
        version = self._commit_segments(
            name, meta.tag_columns, kept, op="expire", remove=old + boundary
        )
        return {"files_removed": len(old), "files_rewritten": len(boundary), "version": version}

    def resegment(self, meta: TimeSeriesTableMetadata) -> dict:
        """Merge overlapping segments created by out-of-order/backfill
        ingest (operators/retention.py::merge_overlapping_segments):
        clean series pass verbatim, overlapping series decode+refit
        lossless into disjoint segments; ONE transactional commit
        replaces the table's files (time-clustered like OPTIMIZE).
        Run it per retention window on a live system, not as one
        whole-history job. Returns {"files_before", "version"}."""
        from modelardb_rs_spark.operators.retention import merge_overlapping_segments

        name = meta.name
        snap = self.log(name).snapshot()
        if not snap.files:
            return {"files_before": 0, "version": snap.version}
        merged = merge_overlapping_segments(
            self._read(name, snap.paths, segment_schema(meta.tag_columns)), meta.tag_columns
        )
        version = self._commit_segments(
            name, meta.tag_columns, merged, range_partitions=len(snap.paths),
            op="resegment", remove=list(snap.paths),
        )
        return {"files_before": len(snap.paths), "version": version}

    def truncate(self, name: str) -> None:
        """Transactional truncate: one commit removing every live file.
        Data files stay on disk for time travel until vacuumed
        (reference mod.rs:545-580 truncates the Delta table the same way)."""
        log = self.log(name)
        if not log.versions():
            return
        log.commit(lambda snap: ("truncate", [], snap.paths))

    def remove_files(self, name: str, rel_paths: list[str]) -> None:
        """Transactionally remove a specific set of files from the live
        set (used by edge→cloud transfer: only the transferred snapshot
        is dropped, so writes that landed mid-transfer survive)."""
        wanted = set(rel_paths)
        self.log(name).commit(
            lambda snap: ("transfer", [], [p for p in snap.paths if p in wanted])
        )

    def drop(self, name: str) -> None:
        """Physically remove the table directory, history included."""
        path = self.table_path(name)
        if self.fs.exists(path):
            self.fs.delete(path, recursive=True)
        self._logs.pop(name, None)

    def vacuum(
        self,
        name: str,
        retain_seconds: int | None = None,
        staging_grace_seconds: float | None = None,
    ) -> list[str]:
        """Delete files that left the live set before the retention
        horizon plus orphaned staging from crashed writes (reference
        data_folder/mod.rs:582-686). Returns deleted URIs. Aggressive
        retention can retire history the stock-Delta mirror still
        needed — check ``mirror_healthy(name)`` afterwards if external
        Delta readers depend on this table. Unreferenced staging sweeps
        on its own grace clock so a zero-retention vacuum cannot race a
        live writer's staging directory (TransactionLog.vacuum)."""
        if not self.fs.exists(self.table_path(name)):
            return []
        retain = DEFAULT_RETENTION_SECONDS if retain_seconds is None else retain_seconds
        return self.log(name).vacuum(retain, staging_grace_seconds=staging_grace_seconds)

    def history(self, name: str) -> list[dict]:
        """The table's commit history (version, op, timestamp, file
        counts) — the DESCRIBE HISTORY analog."""
        return [
            {
                "version": c["version"],
                "op": c["op"],
                "timestamp_ms": c["timestamp_ms"],
                "n_added": len(c.get("add", [])),
                "n_removed": len(c.get("remove", [])),
            }
            for c in self.log(name).commits()
        ]
