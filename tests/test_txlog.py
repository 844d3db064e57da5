"""Transactional storage tests: ACID appends under concurrency, snapshot
isolation, time travel, transactional TRUNCATE, and VACUUM retention —
the guarantees the reference gets from Delta Lake
(crates/modelardb_storage/src/data_folder/mod.rs:89-686)."""

import datetime
import threading
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from modelardb_rs_spark.engine import Engine
from modelardb_rs_spark.types import segment_schema

TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def points(spark, n, offset=0, tag="a"):
    rows = [
        Row(
            timestamp=TS0 + datetime.timedelta(seconds=offset + i),
            f=float(i % 7),
            tag=tag,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture()
def ts_table(engine, spark):
    engine.read_sql("CREATE TIME SERIES TABLE acid(timestamp TIMESTAMP, f FIELD, tag TAG)")
    return engine


def test_concurrent_writers_all_commit(ts_table, spark):
    """Four threads appending concurrently must all land: version races
    resolve by optimistic retry, and no writer clobbers another's files."""
    errors = []

    def write(i):
        try:
            ts_table.write("acid", points(spark, 50, offset=1000 * i, tag=f"t{i}"))
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid").collect()[0].n == 200
    history = ts_table.folder.history("acid")
    assert len(history) == 4 and all(h["op"] == "append" for h in history)


def test_crashed_write_is_invisible(ts_table, spark):
    """Files staged without a commit never appear in reads."""
    ts_table.write("acid", points(spark, 20))
    folder = ts_table.folder
    # simulate a crashed writer: staged parquet, no commit
    staged = folder.fs.join(folder.table_path("acid"), "txn=deadbeefdeadbeef")
    points(spark, 999).write.parquet(staged)
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid").collect()[0].n == 20


def test_time_travel_by_version_and_timestamp(ts_table, spark):
    meta = ts_table.catalog.time_series_metadata("acid")
    ts_table.write("acid", points(spark, 10))
    t_between = int(time.time() * 1000)
    time.sleep(0.05)
    ts_table.write("acid", points(spark, 5, offset=100))
    folder = ts_table.folder
    assert folder.read_segments(meta).agg(F.sum("value_count")).collect()[0][0] == 15
    assert folder.read_segments(meta, version=0).agg(F.sum("value_count")).collect()[0][0] == 10
    assert (
        folder.read_segments(meta, timestamp_ms=t_between).agg(F.sum("value_count")).collect()[0][0]
        == 10
    )
    with pytest.raises(ValueError, match="version 9"):
        folder.read_segments(meta, version=9)


def test_truncate_is_versioned(ts_table, spark):
    meta = ts_table.catalog.time_series_metadata("acid")
    ts_table.write("acid", points(spark, 10))
    ts_table.read_sql("TRUNCATE acid")
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid").collect()[0].n == 0
    # pre-truncate snapshot still readable (data retained until vacuum)
    assert ts_table.folder.read_segments(meta, version=0).count() > 0
    # and the table accepts new writes after truncation
    ts_table.write("acid", points(spark, 3))
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid").collect()[0].n == 3


def test_vacuum_honors_retention(ts_table, spark):
    meta = ts_table.catalog.time_series_metadata("acid")
    ts_table.write("acid", points(spark, 10))
    ts_table.read_sql("TRUNCATE acid")
    # within retention: nothing deleted, time travel intact
    assert ts_table.folder.vacuum("acid", retain_seconds=3600) == []
    assert ts_table.folder.read_segments(meta, version=0).count() > 0
    # zero retention: the truncated files are physically deleted
    deleted = ts_table.folder.vacuum("acid", retain_seconds=0)
    assert deleted
    fs = ts_table.folder.fs
    assert not any(fs.exists(u) for u in deleted)
    # current snapshot (empty) still reads fine
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid").collect()[0].n == 0


def test_vacuum_sweeps_orphaned_staging(ts_table, spark):
    ts_table.write("acid", points(spark, 5))
    folder = ts_table.folder
    staged = folder.fs.join(folder.table_path("acid"), "txn=0123456789abcdef")
    points(spark, 7).write.parquet(staged)
    # within the staging grace the orphan is presumed an IN-FLIGHT
    # write and survives even a zero-retention vacuum (the round-10
    # chaos test caught vacuum deleting live writers' staging)
    assert folder.vacuum("acid", retain_seconds=0) == []
    assert folder.fs.exists(staged)
    # an EXPLICIT grace asserts "no honest write stages longer than
    # this" and switches staging to that clock alone: a long data
    # retention (here 1h) no longer defers the orphan sweep. (The
    # DEFAULT, with no explicit grace, stays conservative — the older
    # of the two horizons — because nothing enforces that the 600 s
    # default exceeds a deployment's slowest staging write.)
    assert folder.vacuum(
        "acid", retain_seconds=3600, staging_grace_seconds=0
    ) == [staged]
    assert not folder.fs.exists(staged)
    # committed data untouched
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid").collect()[0].n == 5


def test_commit_log_file_skipping(ts_table, spark):
    """Per-file time spans recorded at commit time prune files
    driver-side: a range query over one write's span must plan only that
    write's files, and results stay exact."""
    meta = ts_table.catalog.time_series_metadata("acid")
    ts_table.write("acid", points(spark, 50, offset=0))          # ~TS0
    ts_table.write("acid", points(spark, 50, offset=1_000_000))  # ~TS0+11d
    snap = ts_table.folder.log("acid").snapshot()
    assert all("min_start_time" in f and "field_column" in f for f in snap.files)
    n_all = len(snap.files)

    lo = int(TS0.timestamp() * 1_000_000)
    hi = int((TS0 + datetime.timedelta(seconds=100)).timestamp() * 1_000_000)
    pruned = ts_table.folder.read_segments(meta, start_us=lo, end_us=hi)
    n_pruned_files = len(pruned.inputFiles())
    assert 0 < n_pruned_files < n_all

    # exact result through the engine path (pruning + re-filter)
    out = ts_table.read_time_series_table(
        "acid", columns={"f": "count"}, start=TS0, end=TS0 + datetime.timedelta(seconds=100)
    ).collect()
    assert out[0][0] == 50

    # field-index skipping keeps only the requested field's files
    only_f = ts_table.folder.read_segments(meta, field_indexes=[0])
    assert len(only_f.inputFiles()) == n_all
    none_f = ts_table.folder.read_segments(meta, field_indexes=[99])
    assert none_f.count() == 0


def test_seekable_footer_read(ts_table, spark):
    """The non-file:-scheme stats path (pyarrow over a seekable Hadoop
    stream) must read the same footer statistics as the local fast
    path."""
    import pyarrow.parquet as pq

    from modelardb_rs_spark.sources.datafolder import _parquet_segment_stats

    ts_table.write("acid", points(spark, 50))
    snap = ts_table.folder.log("acid").snapshot()
    entry = snap.files[0]
    uri = ts_table.folder.fs.join(ts_table.folder.table_path("acid"), entry["path"])
    assert uri.startswith("file:")

    fs = ts_table.folder.fs
    f = fs.open_seekable(uri, entry["size"])
    try:
        md = pq.read_metadata(f)
    finally:
        f.close()
    from urllib.parse import urlparse

    local = pq.read_metadata(urlparse(uri).path)
    assert md.num_rows == local.num_rows
    stats = _parquet_segment_stats(fs, uri, entry["size"])
    assert (entry["min_start_time"], entry["max_end_time"]) == stats["span"]
    assert entry["all_fast"] == stats["all_fast"]


def test_optimize_compacts_small_files(ts_table, spark):
    """Many small appends then OPTIMIZE: fewer live files, identical
    query results, pre-optimize snapshots still readable (time travel),
    and the rewritten files keep per-file skipping stats."""
    meta = ts_table.catalog.time_series_metadata("acid")
    for i in range(6):
        ts_table.write("acid", points(spark, 40, offset=100 * i, tag=f"t{i % 2}"))
    before = ts_table.folder.log("acid").snapshot()
    n_before = len(before.files)
    total = ts_table.read_sql(
        "SELECT CAST(count(f) AS BIGINT) AS n, CAST(sum(f) AS DOUBLE) AS s FROM acid"
    ).collect()[0]

    out = ts_table.read_sql("OPTIMIZE acid")
    assert out is None
    snap = ts_table.folder.log("acid").snapshot()
    assert len(snap.files) < n_before
    assert ts_table.folder.history("acid")[-1]["op"] == "optimize"
    # results identical after compaction
    after = ts_table.read_sql(
        "SELECT CAST(count(f) AS BIGINT) AS n, CAST(sum(f) AS DOUBLE) AS s FROM acid"
    ).collect()[0]
    assert (after.n, after.s) == (total.n, total.s)
    # rewritten files carry skipping stats + fast-path flag
    assert all(
        "min_start_time" in f and "all_fast" in f and "field_column" in f
        for f in snap.files
    )
    assert _live_codecs(ts_table, "acid") == {"ZSTD"}
    # pre-optimize snapshot still readable until vacuum
    assert (
        ts_table.folder.read_segments(meta, version=before.version)
        .agg(F.sum("value_count"))
        .collect()[0][0]
        == 240
    )
    # compacted files store the declared segment columns only: no txn
    # staging partition as a data column
    declared = [c for c in segment_schema(meta.tag_columns).fieldNames() if c != "field_column"]
    assert _live_file_columns(ts_table, "acid") == [declared] * len(snap.files)
    # a second optimize finds nothing worth rewriting (no-op, no commit)
    res = ts_table.optimize("acid")
    assert res["compacted"] == 0 and res["version"] == snap.version


def _live_file_columns(engine, name) -> list[list[str]]:
    """The Parquet schema column names of every live file."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    table = engine.folder.table_path(name)
    return [
        pq.read_schema(urlparse(engine.folder.fs.join(table, f["path"])).path).names
        for f in engine.folder.log(name).snapshot().files
    ]


def _live_codecs(engine, name) -> set[str]:
    """Parquet compression codecs of every column chunk of the live files."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    table = engine.folder.table_path(name)
    codecs = set()
    for f in engine.folder.log(name).snapshot().files:
        md = pq.read_metadata(urlparse(engine.folder.fs.join(table, f["path"])).path)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            codecs |= {rg.column(c).compression for c in range(rg.num_columns)}
    return codecs


def test_optimize_of_a_normal_table_writes_zstd(engine, spark):
    """OPTIMIZE rewrites a normal table's small files with the codec
    every other writer uses."""
    engine.read_sql("CREATE TABLE nz(k BIGINT, v STRING)")
    for i in range(4):
        rows = [(i * 10 + j, f"v{j}") for j in range(10)]
        engine.write("nz", spark.createDataFrame(rows, "k BIGINT, v STRING"))
    assert _live_codecs(engine, "nz") == {"ZSTD"}
    n = len(engine.folder.log("nz").snapshot().files)
    assert n > 1 and engine.optimize("nz")["compacted"] == n
    assert len(engine.folder.log("nz").snapshot().files) == 1
    assert _live_codecs(engine, "nz") == {"ZSTD"}
    assert _live_file_columns(engine, "nz") == [["k", "v"]]
    assert engine.read_sql("SELECT count(*) AS n, sum(k) AS s FROM nz").collect()[0] == (40, 780)


def test_optimize_aborts_on_concurrent_remove(ts_table, spark):
    """OPTIMIZE must not resurrect rows a concurrent TRUNCATE removed:
    the commit aborts when its inputs left the live set."""
    from modelardb_rs_spark.sources.datafolder import ConcurrentModificationError

    for i in range(3):
        ts_table.write("acid", points(spark, 10, offset=50 * i))

    real_commit = ts_table.folder.log("acid").commit
    fired = []

    def racing_commit(build, txn=None):
        if not fired:
            fired.append(True)
            ts_table.folder.truncate("acid")
        return real_commit(build, txn=txn)

    ts_table.folder.log("acid").commit = racing_commit
    try:
        with pytest.raises(ConcurrentModificationError):
            ts_table.optimize("acid")
    finally:
        ts_table.folder.log("acid").commit = real_commit
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid").collect()[0].n == 0


def test_optimize_retries_after_losing_to_a_compaction(ts_table, spark):
    """An OPTIMIZE whose inputs another OPTIMIZE merged first plans again
    from the fresh snapshot (here: nothing left to merge) instead of
    failing, and the loser's staged files are deleted at once."""
    for i in range(3):
        ts_table.write("acid", points(spark, 10, offset=50 * i))
    log = ts_table.folder.log("acid")
    real_commit = log.commit
    fired = []

    def racing_commit(build, txn=None):
        if not fired:
            fired.append(True)
            ts_table.optimize("acid")  # the winner
        return real_commit(build, txn=txn)

    log.commit = racing_commit
    try:
        res = ts_table.optimize("acid")
    finally:
        log.commit = real_commit
    assert res == {"compacted": 0, "produced": 0, "version": 3}
    assert [h["op"] for h in ts_table.folder.history("acid")] == ["append"] * 3 + ["optimize"]
    fs, table = ts_table.folder.fs, ts_table.folder.table_path("acid")
    staged = {i.path.rsplit("/", 1)[-1] for i in fs.list(table) if i.is_dir and "txn=" in i.path}
    referenced = {e["path"].split("/", 1)[0] for c in log.commits() for e in c["add"]}
    assert staged == referenced
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid").collect()[0].n == 30


def test_vacuum_removes_stale_commit_temp_files(ts_table, spark):
    """A crash between writing create_exclusive's temporary file and
    unlinking it leaves the file in the log directory; vacuum removes it
    once it is older than the staging grace."""
    import os
    from urllib.parse import urlparse

    ts_table.write("acid", points(spark, 5))
    log = ts_table.folder.log("acid")
    tmp = os.path.join(urlparse(log.log_uri).path, ".00000000000000000001.json.0123abcd.tmp")
    with open(tmp, "wb") as f:
        f.write(b"{")
    assert log.versions() == [0]  # never read as a commit
    assert ts_table.folder.vacuum("acid", retain_seconds=0) == []
    assert os.path.exists(tmp)  # younger than the default grace
    assert ts_table.folder.vacuum("acid", retain_seconds=3600, staging_grace_seconds=0) == [
        "file:" + tmp
    ]
    assert not os.path.exists(tmp)


def test_create_exclusive_names_the_hard_link_requirement(engine, monkeypatch, tmp_path):
    """On a local filesystem that refuses hard links the commit fails
    with an error that says why, and leaves no temporary file."""
    import errno
    import os

    def refuse(src, dst):
        raise PermissionError(errno.EPERM, "Operation not permitted")

    log_dir = tmp_path / "log"
    monkeypatch.setattr(os, "link", refuse)
    with pytest.raises(OSError, match="hard link"):
        engine.folder.fs.create_exclusive("file:" + str(log_dir / "x.json"), b"{}")
    assert os.listdir(log_dir) == []


def test_truncate_cluster(ts_table, spark):
    ts_table.read_sql("CREATE TIME SERIES TABLE acid2(timestamp TIMESTAMP, f FIELD, tag TAG)")
    ts_table.write("acid", points(spark, 5))
    ts_table.write("acid2", points(spark, 5))
    ts_table.read_sql("TRUNCATE CLUSTER")
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid").collect()[0].n == 0
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid2").collect()[0].n == 0


def test_edge_to_cloud_transfer(spark, tmp_path):
    """Size-triggered transfer ships committed segments to the remote
    folder and removes exactly the shipped snapshot locally."""
    from modelardb_rs_spark.transfer import DataTransfer

    edge = Engine(spark, str(tmp_path / "edge"))
    cloud = Engine(spark, f"file://{tmp_path}/cloud")
    edge.read_sql("CREATE TIME SERIES TABLE e2c(timestamp TIMESTAMP, f FIELD, tag TAG)")
    edge.write("e2c", points(spark, 100))

    xfer = DataTransfer(edge, cloud, transfer_batch_size_in_bytes=None)
    assert xfer.table_size_in_bytes("e2c") > 0
    shipped = xfer.transfer_data("e2c")
    assert shipped > 0
    # remote table created with identical metadata and holds the points
    assert cloud.read_sql("SELECT count(f) AS n FROM e2c").collect()[0].n == 100
    # local live set is empty but the table still accepts writes
    assert edge.read_sql("SELECT count(f) AS n FROM e2c").collect()[0].n == 0
    edge.write("e2c", points(spark, 10, offset=5000))
    assert edge.read_sql("SELECT count(f) AS n FROM e2c").collect()[0].n == 10
    # threshold trigger: crossing the batch size ships automatically
    xfer.transfer_batch_size_in_bytes = 1
    xfer.check_table("e2c")
    assert cloud.read_sql("SELECT count(f) AS n FROM e2c").collect()[0].n == 110
    # dropped tables are never transferred
    xfer.mark_table_as_dropped("e2c")
    edge.write("e2c", points(spark, 5, offset=9000))
    assert xfer.transfer_data("e2c") == 0


def test_file_uri_root(spark, tmp_path):
    """The data folder works against a URI-scheme root (the object-store
    API seam: s3a:// etc. differ only in scheme + session config)."""
    eng = Engine(spark, f"file://{tmp_path}/folder")
    eng.read_sql("CREATE TIME SERIES TABLE u(timestamp TIMESTAMP, f FIELD, tag TAG)")
    eng.write("u", points(spark, 25))
    assert eng.read_sql("SELECT count(f) AS n FROM u").collect()[0].n == 25
    assert eng.folder.root.startswith("file:")
    eng.read_sql("DROP TABLE u")
    assert eng.tables() == {}


def test_checkpoint_compaction_bounds_replay(spark, tmp_path):
    """Every 16th commit writes a checkpoint holding the full live set;
    snapshots replay from it, version/timestamp travel still resolve,
    and vacuum retires log entries an out-of-retention checkpoint
    supersedes — the log never grows without bound."""
    from modelardb_rs_spark.sources.hadoopfs import HadoopFS
    from modelardb_rs_spark.sources.txlog import TransactionLog

    fs = HadoopFS(spark, str(tmp_path))
    log = TransactionLog(fs, fs.join(fs.base, "t"))

    # 40 commits: add file-i, and from #20 on also remove file-(i-20)
    for i in range(40):
        def build(snap, i=i):
            add = [{"path": f"f{i}.parquet", "size": 1}]
            remove = [f"f{i-20}.parquet"] if i >= 20 else []
            return ("append", add, remove)

        assert log.commit(build) == i

    assert sorted(log._list_log()[1]) == [16, 32]
    cp = log.read_checkpoint(32)
    assert {f["path"] for f in cp["files"]} == {f"f{i}.parquet" for i in range(13, 33)}

    # latest snapshot: checkpoint 32 + commits 33..39
    snap = log.snapshot()
    assert snap.version == 39
    assert sorted(snap.paths) == sorted(f"f{i}.parquet" for i in range(20, 40))
    # version travel between checkpoints replays cp16 + 17..20
    snap20 = log.snapshot(version=20)
    assert sorted(snap20.paths) == sorted(f"f{i}.parquet" for i in range(1, 21))
    # timestamp travel to "now" resolves the newest version
    assert log.snapshot(timestamp_ms=int(time.time() * 1000) + 1000).version == 39
    with pytest.raises(ValueError):
        log.snapshot(version=99)

    # vacuum with zero retention: checkpoint 32 supersedes everything
    # before it — commits 0..31 and checkpoint 16 are retired
    log.vacuum(0)
    commit_vs, cp_vs = log._list_log()
    assert sorted(commit_vs) == list(range(32, 40))
    assert sorted(cp_vs) == [32]
    # history before the checkpoint is gone, the present is intact
    snap = log.snapshot()
    assert snap.version == 39
    assert sorted(snap.paths) == sorted(f"f{i}.parquet" for i in range(20, 40))
    with pytest.raises(ValueError):
        log.snapshot(version=10)


def test_checkpoint_through_engine_writes(ts_table, spark):
    """17 appends through the engine produce a checkpoint, and reads
    (which now replay through it) see every row with stats intact."""
    for i in range(17):
        ts_table.write("acid", points(spark, 3, offset=100 * i))
    log = ts_table.folder.log("acid")
    assert sorted(log._list_log()[1]) == [16]
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid").collect()[0].n == 51
    # data skipping still prunes from checkpointed add-entry stats
    meta = ts_table.catalog.time_series_metadata("acid")
    assert ts_table.folder.read_segments(meta, version=16).count() > 0


def test_delta_log_mirror_is_spec_conformant(ts_table, spark):
    """Every commit mirrors into a real _delta_log (public Delta
    PROTOCOL.md shapes) so stock Delta readers can open the LIVE table:
    contiguous versions, protocol+metaData at v0, add actions with
    partitionValues matching the live files, remove actions on
    truncate; a lost mirror file is backfilled by the next commit."""
    import json as _json
    import os
    from urllib.parse import urlparse

    ts_table.write("acid", points(spark, 20))
    ts_table.write("acid", points(spark, 10, offset=100))
    ts_table.read_sql("TRUNCATE acid")
    ts_table.write("acid", points(spark, 5, offset=200))

    table_dir = urlparse(ts_table.folder.table_path("acid")).path
    log_dir = os.path.join(table_dir, "_delta_log")
    versions = sorted(
        int(f[: -len(".json")]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    assert versions == [0, 1, 2, 3]  # contiguous — Delta readers replay all

    def actions(v):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            return [_json.loads(l) for l in fh if l.strip()]

    a0 = actions(0)
    kinds0 = [next(iter(a)) for a in a0]
    assert kinds0[:3] == ["commitInfo", "protocol", "metaData"]
    md = next(a["metaData"] for a in a0 if "metaData" in a)
    schema = _json.loads(md["schemaString"])
    names = [f["name"] for f in schema["fields"]]
    assert "model_type_id" in names and "txn" in names and "field_column" in names
    assert set(md["partitionColumns"]) == {"txn", "field_column"}

    # replaying the mirror must reproduce the authoritative live set
    live = {}
    for v in versions:
        for a in actions(v):
            if "add" in a:
                live[a["add"]["path"]] = a["add"]
                assert a["add"]["partitionValues"].get("field_column") is not None
                fpath = os.path.join(table_dir, a["add"]["path"])
                assert os.path.getsize(fpath) == a["add"]["size"]
            elif "remove" in a:
                live.pop(a["remove"]["path"], None)
    assert set(live) == set(ts_table.folder.log("acid").snapshot().paths)

    # heal: delete a mirror version; the next commit backfills it
    os.remove(os.path.join(log_dir, f"{2:020d}.json"))
    ts_table.write("acid", points(spark, 3, offset=300))
    versions2 = sorted(
        int(f[: -len(".json")]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    assert versions2 == [0, 1, 2, 3, 4]


def test_distributed_stats_job_matches_footer_path(ts_table, spark, monkeypatch):
    """Wide commits compute per-file stats with one Spark job; the
    recorded entries must be identical to the driver footer path's."""
    import modelardb_rs_spark.sources.datafolder as dfm

    ts_table.write("acid", points(spark, 300))  # footer path (few files)
    footer_entries = {
        e["path"]: (e.get("min_start_time"), e.get("max_end_time"),
                    e.get("all_fast"), e.get("fast_points"), e.get("total_points"))
        for c in ts_table.folder.log("acid").commits() for e in c.get("add", [])
    }
    assert footer_entries and all(v[4] is not None for v in footer_entries.values())

    monkeypatch.setattr(dfm, "_DRIVER_STATS_MAX_FILES", 0)  # force the job path
    ts_table.write("acid", points(spark, 300, offset=5000))
    job_entries = {
        e["path"]: (e.get("min_start_time"), e.get("max_end_time"),
                    e.get("all_fast"), e.get("fast_points"), e.get("total_points"))
        for c in ts_table.folder.log("acid").commits() for e in c.get("add", [])
        if e["path"] not in footer_entries
    }
    assert job_entries
    # same shapes and totals: both writes ingested identical data modulo
    # the time offset, so per-write point totals must match
    assert sum(v[4] for v in footer_entries.values()) == 300
    assert sum(v[4] for v in job_entries.values()) == 300
    assert all(v[0] is not None and v[2] is not None for v in job_entries.values())
    # and reads (skipping + branch choice) work off the job-made stats
    assert ts_table.read_sql("SELECT count(f) AS n FROM acid").collect()[0].n == 600


def test_delta_mirror_parquet_checkpoint_and_bootstrap(spark, tmp_path):
    """Every 16th mirrored version writes a Delta PARQUET checkpoint +
    _last_checkpoint (bounded stock-reader replay); a table whose
    pre-mirror history was vacuumed bootstraps its mirror from our own
    checkpoint instead of being unmirrorable."""
    import json as _json
    import os
    import shutil

    import pyarrow.parquet as pq

    from modelardb_rs_spark.sources.hadoopfs import HadoopFS
    from modelardb_rs_spark.sources.txlog import TransactionLog

    fs = HadoopFS(spark, str(tmp_path))
    log = TransactionLog(fs, fs.join(fs.base, "t"))
    data_dir = os.path.join(str(tmp_path), "t")
    os.makedirs(os.path.join(data_dir, "txn=a"), exist_ok=True)
    # real parquet files so the schema derivation works
    spark.range(3).selectExpr("id AS start_time").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(data_dir, "txn=a"))
    src = next(
        f for f in os.listdir(os.path.join(data_dir, "txn=a")) if f.endswith(".parquet")
    )
    for i in range(18):
        fname = f"txn=a/f{i}.parquet"
        shutil.copy(
            os.path.join(data_dir, "txn=a", src), os.path.join(data_dir, fname)
        )
        size = os.path.getsize(os.path.join(data_dir, fname))
        log.commit(lambda snap, fname=fname, size=size: ("append", [{"path": fname, "size": size}], []))

    dl = os.path.join(data_dir, "_delta_log")
    cp = os.path.join(dl, f"{16:020d}.checkpoint.parquet")
    assert os.path.isfile(cp)
    lc = _json.load(open(os.path.join(dl, "_last_checkpoint")))
    assert lc["version"] == 16
    t = pq.read_table(cp)
    assert {"protocol", "metaData", "add"} <= set(t.column_names)
    adds = [r for r in t.column("add").to_pylist() if r is not None]
    assert len(adds) == 17  # live files at version 16
    assert all(dict(a["partitionValues"])["txn"] == "a" for a in adds)
    protos = [r for r in t.column("protocol").to_pylist() if r is not None]
    assert protos == [{"minReaderVersion": 1, "minWriterVersion": 2}]

    # bootstrap: wipe the mirror AND retire pre-checkpoint _txn commits
    shutil.rmtree(dl)
    log.vacuum(0)  # drops commits 0..15 (superseded by checkpoint 16)
    log2 = TransactionLog(fs, fs.join(fs.base, "t"))  # fresh handle
    fname = "txn=a/f18.parquet"
    shutil.copy(os.path.join(data_dir, "txn=a", src), os.path.join(data_dir, fname))
    size = os.path.getsize(os.path.join(data_dir, fname))
    log2.commit(lambda snap: ("append", [{"path": fname, "size": size}], []))
    # mirror rebuilt from our checkpoint 16 + JSON for 17 and 18
    names = set(os.listdir(dl))
    assert f"{16:020d}.checkpoint.parquet" in names
    assert f"{17:020d}.json" in names and f"{18:020d}.json" in names
    assert f"{0:020d}.json" not in names  # history starts at the checkpoint


def test_txn_gate_is_atomic_and_survives_checkpoints(engine, spark):
    """SetTransaction-style replay gates: a write carrying txn=(app, v)
    commits once; the same (app, v) again is a no-op (no new version,
    no new rows, no orphaned staged files); a HIGHER v commits; the txn
    map survives log checkpoints so gates outlive VACUUM truncation."""
    engine.create_table("txn_t", "id BIGINT")
    df1 = spark.createDataFrame([(1,)], "id long")
    engine.write("txn_t", df1, txn=("appA", 0))
    assert engine.table("txn_t").count() == 1
    assert engine.last_txn_version("txn_t", "appA") == 0
    # replay of the same epoch: skipped entirely
    engine.write("txn_t", spark.createDataFrame([(99,)], "id long"), txn=("appA", 0))
    assert engine.table("txn_t").count() == 1
    log = engine.folder.log("txn_t")
    assert log.snapshot().version == 0
    # a different app is independent; a newer epoch lands
    engine.write("txn_t", spark.createDataFrame([(2,)], "id long"), txn=("appB", 0))
    engine.write("txn_t", spark.createDataFrame([(3,)], "id long"), txn=("appA", 1))
    assert engine.table("txn_t").count() == 3
    assert engine.last_txn_version("txn_t", "appA") == 1
    assert engine.last_txn_version("txn_t", "appB") == 0
    # drive past a checkpoint boundary, then verify a snapshot replayed
    # FROM the checkpoint still carries the txn map
    from modelardb_rs_spark.sources import txlog as txlog_mod

    for i in range(txlog_mod._CHECKPOINT_INTERVAL + 2):
        engine.write("txn_t", spark.createDataFrame([(100 + i,)], "id long"))
    snap = log.snapshot()
    assert any(
        v % txlog_mod._CHECKPOINT_INTERVAL == 0 and v > 0
        for v in [snap.version]
        for v in range(snap.version + 1)
        if engine.folder.fs.exists(log._checkpoint_uri(v))
    )
    assert snap.txns.get("appA") == 1 and snap.txns.get("appB") == 0
    # gate still holds after the checkpoint
    engine.write("txn_t", spark.createDataFrame([(99,)], "id long"), txn=("appA", 1))
    assert engine.table("txn_t").where(F.col("id") == 99).count() == 0


def test_txn_gate_under_concurrent_replays(engine, spark):
    """Two racing replays of the same epoch commit exactly once — the
    gate re-checks against the fresh snapshot on every version-race
    retry."""
    engine.create_table("txn_race", "id BIGINT")
    errors = []

    def write(i):
        try:
            engine.write(
                "txn_race",
                spark.createDataFrame([(i,)], "id long"),
                txn=("epoch-app", 7),
            )
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert engine.table("txn_race").count() == 1
    assert engine.folder.log("txn_race").snapshot().version == 0


# ---------------------------------------------------------------- mirror property test


def _stage_small_parquet(fs, table_uri, rnd) -> tuple[str, int]:
    """Write one real (tiny) parquet file into a fresh txn= staging dir;
    returns (rel_path, size)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    rel_dir = f"txn={rnd.getrandbits(64):016x}"
    rel = f"{rel_dir}/part-{rnd.getrandbits(32):08x}.parquet"
    n = rnd.randint(1, 5)
    t = pa.table(
        {
            "id": pa.array(list(range(n)), pa.int64()),
            "v": pa.array([rnd.random() for _ in range(n)], pa.float64()),
        }
    )
    buf = io.BytesIO()
    pq.write_table(t, buf)
    data = buf.getvalue()
    fs.mkdirs(fs.join(table_uri, rel_dir))
    fs.write_bytes(fs.join(table_uri, rel), data)
    return rel, len(data)


def _replay_delta_mirror(table_dir: str):
    """Replay _delta_log per the public Delta protocol: parquet
    checkpoint via _last_checkpoint (if any) + the JSON suffix.
    Returns (live_paths, txns, versions_replayed); asserts the suffix
    is contiguous (stock readers refuse gaps)."""
    import json as _json
    import os

    import pyarrow.parquet as pq

    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        return set(), {}, []
    live: dict[str, dict] = {}
    txns: dict[str, int] = {}
    base = -1
    lc = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(lc):
        base = _json.load(open(lc))["version"]
        cp = pq.read_table(os.path.join(log_dir, f"{base:020d}.checkpoint.parquet"))
        for row in cp.to_pylist():
            if row.get("add"):
                live[row["add"]["path"]] = row["add"]
            if row.get("txn"):
                t = row["txn"]
                txns[t["appId"]] = max(txns.get(t["appId"], -1), t["version"])
    versions = sorted(
        int(f[: -len(".json")])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and f != "_last_checkpoint"
    )
    suffix = [v for v in versions if v > base]
    assert suffix == list(range(base + 1, base + 1 + len(suffix))), (base, suffix)
    for v in suffix:
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                a = _json.loads(line)
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
                elif "txn" in a:
                    t = a["txn"]
                    txns[t["appId"]] = max(txns.get(t["appId"], -1), t["version"])
    return set(live), txns, suffix


def test_delta_mirror_replay_matches_under_adversarial_sequences(spark):
    """Property test: random interleavings of append / txn-append /
    truncate / partial-expire / vacuum must leave a _delta_log whose
    stock replay (checkpoint + contiguous JSON suffix) reproduces the
    authoritative live file set AND txn map at every step."""
    import tempfile
    from urllib.parse import urlparse

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from modelardb_rs_spark.sources.hadoopfs import HadoopFS
    from modelardb_rs_spark.sources.txlog import TransactionLog

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        ops=st.lists(
            st.sampled_from(
                ["append", "txn_append", "txn_replay", "truncate", "expire_one", "vacuum"]
            ),
            min_size=6,
            max_size=20,
        ),
        seed=st.integers(0, 2**31),
    )
    def run(ops, seed):
        import random

        rnd = random.Random(seed)
        root = tempfile.mkdtemp(prefix="smdl_mirror_prop_")
        fs = HadoopFS(spark, root)
        table_uri = fs.join(fs.base, "t")
        fs.mkdirs(table_uri)
        log = TransactionLog(fs, table_uri)
        table_dir = urlparse(table_uri).path
        # first op is always a data append so the mirror can derive a schema
        app_epoch = 0
        for op in ["append"] + ops:
            if op in ("append", "txn_append", "txn_replay"):
                rel, size = _stage_small_parquet(fs, table_uri, rnd)
                txn = None
                if op == "txn_append":
                    app_epoch += 1
                    txn = ("prop-app", app_epoch)
                elif op == "txn_replay":
                    txn = ("prop-app", app_epoch)  # duplicate: must skip
                committed = log.commit(
                    lambda snap: ("append", [{"path": rel, "size": size}], []),
                    txn=txn,
                )
                if op == "txn_replay" and app_epoch > 0:
                    assert committed is None
            elif op == "truncate":
                log.commit(lambda snap: ("truncate", [], list(snap.paths)))
            elif op == "expire_one":
                snap = log.snapshot()
                if snap.paths:
                    victim = rnd.choice(sorted(snap.paths))
                    log.commit(lambda s: ("expire", [], [victim]))
            elif op == "vacuum":
                log.vacuum(0)
            mirror_live, mirror_txns, _ = _replay_delta_mirror(table_dir)
            snap = log.snapshot()
            assert mirror_live == set(snap.paths), (op, mirror_live, snap.paths)
            assert mirror_txns == snap.txns, (op, mirror_txns, snap.txns)

    run()


def test_delta_mirror_disable_warns_and_surfaces(spark, tmp_path, monkeypatch, caplog):
    """When the mirror can't make progress (unreadable history, failed
    bootstrap) it must disable itself LOUDLY — one warning — and expose
    the state via mirror_healthy, instead of silently stranding stock
    Delta readers at an old version. The authoritative JSON log keeps
    working throughout."""
    import logging
    import os
    import shutil

    from modelardb_rs_spark.sources.hadoopfs import HadoopFS
    from modelardb_rs_spark.sources.txlog import TransactionLog

    fs = HadoopFS(spark, str(tmp_path))
    log = TransactionLog(fs, fs.join(fs.base, "t"))
    data_dir = os.path.join(str(tmp_path), "t")
    os.makedirs(os.path.join(data_dir, "txn=a"), exist_ok=True)
    spark.range(3).selectExpr("id AS start_time").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(data_dir, "txn=a"))
    src = next(
        f for f in os.listdir(os.path.join(data_dir, "txn=a")) if f.endswith(".parquet")
    )

    def commit_copy(lg, i):
        fname = f"txn=a/f{i}.parquet"
        shutil.copy(os.path.join(data_dir, "txn=a", src), os.path.join(data_dir, fname))
        size = os.path.getsize(os.path.join(data_dir, fname))
        lg.commit(lambda snap: ("append", [{"path": fname, "size": size}], []))

    for i in range(18):
        commit_copy(log, i)
    dl = os.path.join(data_dir, "_delta_log")
    # wipe the mirror and retire pre-checkpoint history, then force the
    # bootstrap to fail: the next mirror pass cannot make progress
    shutil.rmtree(dl)
    log.vacuum(0)
    log2 = TransactionLog(fs, fs.join(fs.base, "t"))
    monkeypatch.setattr(
        TransactionLog, "_bootstrap_delta_checkpoint", lambda self, *a: False
    )
    assert log2.mirror_healthy
    with caplog.at_level(logging.WARNING, logger="modelardb_rs_spark.sources.txlog"):
        commit_copy(log2, 18)
    assert not log2.mirror_healthy
    warned = [r for r in caplog.records if "Delta mirror" in r.getMessage()]
    assert len(warned) == 1 and "disabled" in warned[0].getMessage()
    # once, not per commit — and the JSON log stays fully functional
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="modelardb_rs_spark.sources.txlog"):
        commit_copy(log2, 19)
    assert not [r for r in caplog.records if "Delta mirror" in r.getMessage()]
    snap = log2.snapshot()
    assert snap.version == 19
    assert "txn=a/f19.parquet" in snap.paths
def test_commit_meta_payload_flows_through_snapshots(engine, spark):
    """A commit may carry an application metadata payload (the Delta
    metaData-action analog, used by the ANN index to flip vectors and
    centroids in ONE atomic commit): the latest meta rides every later
    snapshot, commits without meta inherit it, a newer meta replaces
    it, checkpoints persist it, and time travel resolves the meta as
    of the requested version."""
    engine.read_sql("CREATE TABLE mt(x BIGINT)")
    df = spark.range(3).selectExpr("id AS x")
    engine.write("mt", df, commit_meta={"kind": "a", "gen": 0})
    log = engine.folder.log("mt")
    assert log.snapshot().meta == {"kind": "a", "gen": 0}
    # plain commits inherit the latest meta
    engine.write("mt", df)
    assert log.snapshot().meta == {"kind": "a", "gen": 0}
    # a newer meta replaces it; time travel sees the old one
    v = engine.write("mt", df, commit_meta={"kind": "b", "gen": 1})
    assert log.snapshot().meta == {"kind": "b", "gen": 1}
    assert log.snapshot(version=v - 1).meta == {"kind": "a", "gen": 0}
    # overwrite carries meta in the same (single) replace commit
    engine.overwrite("mt", df, commit_meta={"kind": "c", "gen": 2})
    assert log.snapshot().meta == {"kind": "c", "gen": 2}
    # checkpoints persist the inherited meta: cross a checkpoint
    # boundary with meta-less commits, then verify a snapshot built
    # FROM the checkpoint (not full replay) still carries it
    from modelardb_rs_spark.sources import txlog as txmod

    while log.snapshot().version % txmod._CHECKPOINT_INTERVAL != 0:
        engine.write("mt", df)
    cp_version = log.snapshot().version
    assert engine.folder.fs.exists(log._checkpoint_uri(cp_version))
    fresh = txmod.TransactionLog(engine.folder.fs, log.table_uri)
    assert fresh.snapshot().meta == {"kind": "c", "gen": 2}
    # meta on time series tables is rejected (normal tables only)
    engine.read_sql("CREATE TIME SERIES TABLE mts(timestamp TIMESTAMP, f FIELD)")
    with pytest.raises(ValueError, match="normal tables only"):
        engine.write(
            "mts",
            spark.createDataFrame([Row(timestamp=TS0, f=1.0)]),
            commit_meta={"nope": 1},
        )


def _arrow_points(start_s, n, tag="a", fields=("f",)):
    import pyarrow as pa

    cols = {
        "timestamp": pa.array(
            [(int(TS0.timestamp()) + start_s + i) * 1_000_000 for i in range(n)],
            pa.timestamp("us", tz="UTC"),
        ),
    }
    for k, name in enumerate(fields):
        cols[name] = pa.array([float((i + k) % 7) for i in range(n)], pa.float32())
    cols["tag"] = pa.array([tag] * n)
    return pa.table(cols)


def test_appends_compact_at_the_mergeable_threshold(engine, monkeypatch):
    """The compaction rule runs after an append commit once the small
    files beyond one per partition directory reach the threshold, and
    leaves one file per field_column."""
    import modelardb_rs_spark.sources.datafolder as dfm

    monkeypatch.setattr(dfm, "COMPACT_MIN_MERGEABLE", 5)
    engine.read_sql("CREATE TIME SERIES TABLE one(timestamp TIMESTAMP, f FIELD, tag TAG)")
    log = engine.folder.log("one")
    for i in range(5):  # 5 files in one directory: 4 mergeable
        engine.write("one", _arrow_points(100 * i, 20))
    assert [h["op"] for h in engine.folder.history("one")] == ["append"] * 5
    engine.write("one", _arrow_points(500, 20))  # 5 mergeable: compact
    assert [h["op"] for h in engine.folder.history("one")][5:] == ["append", "optimize"]
    assert [f["field_column"] for f in log.snapshot().files] == [0]
    assert engine.read_sql("SELECT count(f) AS n FROM one").collect()[0].n == 120


def test_puts_keep_live_file_count_bounded(engine):
    """In-process puts into a 2-field table write one file per field;
    the compaction rule keeps the live file count bounded and the
    answers unchanged."""
    import numpy as np

    engine.read_sql(
        "CREATE TIME SERIES TABLE puts(timestamp TIMESTAMP, a FIELD, b FIELD, tag TAG)"
    )
    log = engine.folder.log("puts")
    a_values = []
    for i in range(60):
        batch = _arrow_points(100 * i, 20, tag=f"t{i % 3}", fields=("a", "b"))
        engine.write("puts", batch)
        a_values.append(batch.column("a").to_numpy())
        assert len(log.snapshot().files) <= 50, i
        if i % 10 == 9 or i == 24:
            n, s = engine.read_sql("SELECT count(*) AS n, sum(a) AS s FROM puts").collect()[0]
            truth = np.concatenate(a_values).astype(np.float64)
            assert (n, s) == (len(truth), truth.sum()), i
    assert "optimize" in [h["op"] for h in engine.folder.history("puts")]


def test_failed_compaction_does_not_fail_the_append(engine, monkeypatch, caplog):
    """Compaction runs after the append committed: when it fails, the
    write still returns its version (a retry would append the rows a
    second time) and the failure is logged."""
    import modelardb_rs_spark.sources.datafolder as dfm

    def broken(self, name, target_file_bytes=0, tag_columns=None):
        raise OSError("disk gone")

    monkeypatch.setattr(dfm, "COMPACT_MIN_MERGEABLE", 1)
    monkeypatch.setattr(dfm.DataFolder, "_compact", broken)
    engine.read_sql("CREATE TIME SERIES TABLE one(timestamp TIMESTAMP, f FIELD, tag TAG)")
    engine.create_table("flat", "k INT, v BIGINT")
    assert engine.write("one", _arrow_points(0, 20)) == 0
    with caplog.at_level("WARNING", logger=dfm.__name__):
        assert engine.write("one", _arrow_points(100, 20)) == 1  # 1 mergeable file
        for version in (0, 1):  # one file per write: the second one trips the rule
            rows = engine.spark.range(0, 40, 1, 1).selectExpr("CAST(id AS INT) AS k", "id AS v")
            assert engine.write("flat", rows) == version
    assert sum("compaction of" in r.getMessage() for r in caplog.records) == 2
    assert engine.read_sql("SELECT count(f) AS n FROM one").collect()[0].n == 40
    assert engine.read_sql("SELECT count(*) AS n FROM flat").collect()[0].n == 80
    assert [h["op"] for h in engine.folder.history("flat")] == ["append", "append"]


def test_legacy_segment_files_read_with_nulls_on_every_path(engine):
    """A segment file written before param0, param1, ts_kind and
    seg_sum_sq existed reads with NULLs there through the table view,
    OPTIMIZE, resegment and expire; its points grid exactly and a
    variance over it is NaN."""
    import math
    from urllib.parse import urlparse

    import pyarrow as pa
    import pyarrow.parquet as pq

    ddl = "CREATE TIME SERIES TABLE {}(timestamp TIMESTAMP, f FIELD, tag TAG)"
    engine.read_sql(ddl.format("src"))
    engine.read_sql(ddl.format("leg"))
    engine.write("src", _arrow_points(0, 40, tag="old"))
    fs, src = engine.folder.fs, engine.folder.table_path("src")
    (entry,) = engine.folder.log("src").snapshot().files
    legacy = pq.read_table(urlparse(fs.join(src, entry["path"])).path).drop_columns(
        ["param0", "param1", "ts_kind", "seg_sum_sq"]
    )

    def write_staged(staged: str) -> None:
        sink = pa.BufferOutputStream()
        pq.write_table(legacy, sink)
        fs.write_bytes(
            fs.join(staged, "field_column=0", "part-legacy.parquet"),
            sink.getvalue().to_pybytes(),
        )

    engine.folder._stage_and_commit("leg", write_staged, segment_tags=["tag"])

    def points():
        return sorted(
            (r.tag, int(r.timestamp.timestamp()), r.f) for r in engine.table("leg").collect()
        )

    def null_rows():
        return engine.segments("leg").where(
            F.col("param0").isNull() & F.col("param1").isNull()
            & F.col("ts_kind").isNull() & F.col("seg_sum_sq").isNull()
        ).count()

    def expected(*batches):
        return sorted(
            (tag, int(ts.timestamp()), f)
            for b in batches
            for ts, f, tag in zip(*(b.column(c).to_pylist() for c in ("timestamp", "f", "tag")))
        )

    old = _arrow_points(0, 40, tag="old")
    assert null_rows() > 0
    assert points() == expected(old)
    v, n = engine.read_sql("SELECT var_pop(f) AS v, count(f) AS n FROM leg").collect()[0]
    assert math.isnan(v) and n == 40

    new = _arrow_points(1000, 40, tag="new")
    engine.write("leg", new)
    assert engine.optimize("leg")["compacted"] == 2
    assert null_rows() > 0 and points() == expected(old, new)
    engine.folder.resegment(engine.catalog.time_series_metadata("leg"))
    assert null_rows() > 0 and points() == expected(old, new)
    engine.expire("leg", TS0 + datetime.timedelta(seconds=20))
    assert points() == [p for p in expected(old, new) if p[1] >= int(TS0.timestamp()) + 20]
