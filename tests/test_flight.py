"""Arrow Flight endpoint tests: DDL actions, do_put ingest, do_get SQL,
list_flights — modeled on the reference integration tests
(crates/modelardb_server/tests/integration_test.rs:486-1058, driven over
Flight there too)."""

import datetime
import time
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from modelardb_rs_spark.flight import ModelarFlightClient, start_server


@pytest.fixture()
def client(engine):
    server = start_server(engine)
    c = ModelarFlightClient(f"grpc://127.0.0.1:{server.port}")
    yield c
    server.shutdown()


def test_flight_lifecycle(client):
    client.create(
        "CREATE TIME SERIES TABLE ft(timestamp TIMESTAMP, f FIELD, tag TAG)"
    )
    assert client.tables() == ["ft"]

    t0 = datetime.datetime(2024, 1, 1)
    batch = pa.table(
        {
            "timestamp": pa.array(
                [t0 + datetime.timedelta(seconds=i) for i in range(100)],
                type=pa.timestamp("us"),
            ),
            "f": pa.array([float(i % 7) for i in range(100)], type=pa.float32()),
            "tag": pa.array(["a" if i % 2 else "b" for i in range(100)]),
        }
    )
    client.write("ft", batch)

    out = client.read("SELECT tag, count(f) AS n FROM ft GROUP BY tag")
    got = dict(zip(out["tag"].to_pylist(), out["n"].to_pylist()))
    assert got == {"a": 50, "b": 50}

    # pushdown path over the wire
    agg = client.read("SELECT count(f) AS c, max(f) AS mx FROM ft")
    assert agg["c"].to_pylist() == [100]
    assert agg["mx"].to_pylist() == [6.0]

    client.truncate("ft")
    assert client.read("SELECT count(*) AS n FROM ft")["n"].to_pylist() == [0]
    client.drop("ft")
    assert client.tables() == []


def test_streamed_result_spans_many_batches(engine):
    """Results over the collect threshold must arrive as multiple
    incrementally-produced batches (bounded driver memory), not one
    collected table."""
    import modelardb_rs_spark.flight as fl

    server = start_server(engine, stream_batch_rows=100)
    old = fl._COLLECT_RESULT_LIMIT
    fl._COLLECT_RESULT_LIMIT = 0  # force the streaming path
    try:
        client = ModelarFlightClient(f"grpc://127.0.0.1:{server.port}")
        engine.create_table("big", "id BIGINT, v DOUBLE")
        engine.spark.range(1000).selectExpr("id", "id * 0.5 AS v").createOrReplaceTempView(
            "big_src"
        )
        engine.read_sql("INSERT INTO big SELECT id, v FROM big_src")
        batches = list(client.read_batches("SELECT id, v FROM big ORDER BY id"))
        assert len(batches) >= 10
        ids = [i for b in batches for i in b.column("id").to_pylist()]
        assert ids == list(range(1000))
    finally:
        fl._COLLECT_RESULT_LIMIT = old
        server.shutdown()


def test_config_and_node_actions(client):
    assert client.node_type() == "embedded"
    conf = client.get_configuration()
    assert "spark.sql.shuffle.partitions" in conf
    client.update_configuration("spark.sql.shuffle.partitions", "7")
    assert client.get_configuration()["spark.sql.shuffle.partitions"] == "7"
    with pytest.raises(Exception, match="not updatable"):
        client.update_configuration("spark.master", "evil")
    names = {a.type for a in client.inner.list_actions()}
    assert {"NodeType", "GetConfiguration", "UpdateConfiguration", "KillNode",
            "FlushNode", "FlushMemory"} <= names


def test_kill_action_stops_server(engine):
    server = start_server(engine)
    client = ModelarFlightClient(f"grpc://127.0.0.1:{server.port}")
    assert client.node_type() == "embedded"
    client.kill()
    deadline = time.time() + 10
    down = False
    while time.time() < deadline:
        try:
            probe = ModelarFlightClient(f"grpc://127.0.0.1:{server.port}")
            probe.inner.wait_for_available(timeout=1)
            probe.node_type()
            time.sleep(0.2)
        except Exception:
            down = True
            break
    assert down


def test_time_bucket_and_edge_sql_over_flight(client):
    """The new SQL surfaces (time_bucket resample rewrite, max_by edge
    read) work over the Arrow Flight wire unchanged."""
    client.create(
        "CREATE TIME SERIES TABLE fb(timestamp TIMESTAMP, f FIELD, tag TAG)"
    )
    t0 = datetime.datetime(2024, 1, 1)
    batch = pa.table(
        {
            "timestamp": pa.array(
                [t0 + datetime.timedelta(minutes=10 * i) for i in range(30)],
                type=pa.timestamp("us"),
            ),
            "f": pa.array([float(i) for i in range(30)], type=pa.float32()),
            "tag": pa.array(["x"] * 30),
        }
    )
    client.write("fb", batch)
    out = client.read(
        "SELECT time_bucket('1 hour', timestamp) AS b, count(f) AS n "
        "FROM fb GROUP BY time_bucket('1 hour', timestamp)"
    )
    assert sorted(out["n"].to_pylist()) == [6] * 5
    last = client.read("SELECT max_by(f, timestamp) AS lv FROM fb")
    assert last["lv"].to_pylist() == [29.0]
    client.drop("fb")


def test_streamed_large_result_arrow_relay(engine):
    """>100k-row result over the streaming path: arrives as many Arrow
    batches (bounded driver memory — stream_batch_rows caps each), with
    exact content. The relay is Arrow end-to-end: executors pack IPC
    payloads, the driver never touches per-row Python objects."""
    import modelardb_rs_spark.flight as fl

    server = start_server(engine, stream_batch_rows=4096)
    old = fl._COLLECT_RESULT_LIMIT
    fl._COLLECT_RESULT_LIMIT = 0  # force the streaming path
    try:
        client = ModelarFlightClient(f"grpc://127.0.0.1:{server.port}")
        engine.create_table("big2", "id BIGINT, v DOUBLE")
        engine.spark.range(120_000).selectExpr(
            "id", "id * 0.5 AS v"
        ).createOrReplaceTempView("big2_src")
        engine.read_sql("INSERT INTO big2 SELECT id, v FROM big2_src")
        n = 0
        total = 0.0
        batches = 0
        for b in client.read_batches("SELECT id, v FROM big2"):
            assert b.num_rows <= 4096
            n += b.num_rows
            total += sum(b.column("v").to_pylist())
            batches += 1
        assert n == 120_000
        assert batches >= 120_000 // 4096
        assert total == sum(i * 0.5 for i in range(120_000))
    finally:
        fl._COLLECT_RESULT_LIMIT = old
        server.shutdown()


def test_streamed_put_bounded_driver_memory(engine):
    """A large do_put must stream through bounded spill chunks — never
    materialize the whole upload on the driver (reference streams
    channel-backed batches, remote.rs:750-794). Asserts: multiple spill
    files were staged, each spill payload stays near the configured
    bound, and the ingested table is exactly right."""
    server = start_server(engine)
    server.put_spill_bytes = 1 << 20  # 1 MiB: force many spills
    spills = []
    fs = engine.folder.fs
    real_write_bytes = fs.write_bytes

    def counting_write_bytes(uri, data):
        if "/_staging/put-" in uri:
            spills.append(len(data))
        return real_write_bytes(uri, data)

    fs.write_bytes = counting_write_bytes
    try:
        client = ModelarFlightClient(f"grpc://127.0.0.1:{server.port}")
        client.create("CREATE TABLE big_put(id BIGINT, v DOUBLE)")
        n = 1_000_000
        descriptor = __import__("pyarrow.flight", fromlist=["x"]).FlightDescriptor.for_path(
            b"big_put"
        )
        schema = pa.schema([("id", pa.int64()), ("v", pa.float64())])
        writer, _ = client.inner.do_put(descriptor, schema)
        step = 50_000
        for lo in range(0, n, step):
            ids = list(range(lo, lo + step))
            writer.write_batch(
                pa.record_batch(
                    [pa.array(ids, type=pa.int64()),
                     pa.array([float(i % 97) for i in ids], type=pa.float64())],
                    schema=schema,
                )
            )
        writer.close()
        out = client.read("SELECT count(*) AS n, sum(id) AS s FROM big_put")
        assert out["n"].to_pylist() == [n]
        assert out["s"].to_pylist() == [n * (n - 1) // 2]
    finally:
        fs.write_bytes = real_write_bytes
        server.shutdown()
    # bounded memory evidence: the upload crossed the wire as many
    # spill files, none wildly above the bound (parquet compresses, so
    # files are typically SMALLER than the Arrow bytes that triggered
    # the flush; allow 4x for incompressible corners)
    assert len(spills) >= 5, spills
    assert max(spills) < 4 * server.put_spill_bytes, max(spills)
    # staging directory is cleaned up after the commit
    staging = fs.join(engine.folder.root, "_staging")
    assert not [i for i in fs.list(staging)] if fs.exists(staging) else True


def test_do_get_collect_bound_uses_reconstructed_size(engine, monkeypatch):
    """The collect-vs-stream decision must bound by the RECONSTRUCTED
    result size (commit-log point counts x row width), not Catalyst's
    segment-bytes estimate: a well-compressed table's full scan can
    look tiny at the plan level and then toArrow() a huge gridded
    result onto the driver. A stats-pushdown aggregate (no grid stage)
    must still take the fast collect path."""
    import pyarrow.flight as fl

    from modelardb_rs_spark import flight as flight_mod

    engine.read_sql(
        "CREATE TIME SERIES TABLE hc(timestamp TIMESTAMP, f FIELD, tag TAG)"
    )
    spark = engine.spark
    # 60k constant points: PMC-Mean compresses these to a handful of
    # segments, so plan bytes are tiny while the gridded result is not
    pts = spark.range(60_000).selectExpr(
        "timestamp_micros(id * 1000000) AS timestamp",
        "CAST(7.5 AS float) AS f",
        "'a' AS tag",
    )
    engine.write("hc", pts)

    server = flight_mod.ModelarFlightServer(engine)
    try:
        monkeypatch.setattr(flight_mod, "_COLLECT_RESULT_LIMIT", 256 << 10)
        scan = server.do_get(None, fl.Ticket(b"SELECT timestamp, f FROM hc"))
        agg = server.do_get(None, fl.Ticket(b"SELECT count(f) AS n FROM hc"))
        # full scan grids -> bound blows past the limit -> streamed
        assert isinstance(scan, fl.GeneratorStream), type(scan)
        # pushdown aggregate has no grid stage -> collect fast path
        assert isinstance(agg, fl.RecordBatchStream), type(agg)
        # sanity on the bound itself: far above segment plan bytes
        df = engine.read_sql("SELECT timestamp, f FROM hc")
        bound = server._result_bytes_bound("SELECT timestamp, f FROM hc", df)
        assert bound >= 60_000 * 16
    finally:
        server.shutdown()


# -- in-process do_put -------------------------------------------------------

_PARITY_DDL = (
    "CREATE TIME SERIES TABLE {name}(timestamp TIMESTAMP, f FIELD, g FIELD(0.5), "
    "site TAG, unit TAG)"
)


def _parity_upload(ts_type) -> pa.Table:
    """Two tags, four series, rows shuffled; ``f`` is lossless and
    unique per series point, ``g`` has an absolute bound of 0.5. With
    ``ts_type`` None the timestamp is int64 seconds. The 7-minute steps
    from 01:00 cross the 2024-03-10 spring-forward gap in
    America/New_York without two wall times landing on one instant."""
    import numpy as np

    base = int(datetime.datetime(2024, 3, 10, 1, 0, tzinfo=datetime.timezone.utc).timestamp())
    rows = []
    for s, site in enumerate(["n", "s"]):
        for u, unit in enumerate(["a", "b"]):
            for k in range(40):
                rows.append((base + 420 * k, float(k), 10.0 + 0.37 * (k % 7) + s + u, site, unit))
    rows = [rows[i] for i in np.random.default_rng(5).permutation(len(rows))]
    secs = pa.array([r[0] for r in rows], pa.int64())
    if ts_type is None:
        ts = secs
    else:
        ts = pa.array([r[0] * 1_000_000 for r in rows], pa.int64()).cast(
            pa.timestamp("us", tz=ts_type.tz)
        ).cast(ts_type)
    return pa.table({
        "timestamp": ts,
        "f": pa.array([r[1] for r in rows], pa.float32()),
        "g": pa.array([r[2] for r in rows], pa.float32()),
        "site": pa.array([r[3] for r in rows]),
        "unit": pa.array([r[4] for r in rows]),
    })


def _gridded(engine, name: str):
    return engine.read_sql(
        f"SELECT site, unit, unix_micros(timestamp) AS us, f, g FROM {name} "
        "ORDER BY site, unit, us"
    ).toPandas()


def _assert_file_stats(engine, name: str) -> None:
    files = engine.folder.log(name).snapshot().files
    assert files
    for f in files:
        for key in ("min_start_time", "max_end_time", "all_fast", "total_points"):
            assert key in f, (name, key, f)


@pytest.mark.parametrize(
    "ts_type,zone",
    [
        (pa.timestamp("us", tz="UTC"), "UTC"),
        (pa.timestamp("ms", tz="Asia/Kolkata"), "America/New_York"),
        (pa.timestamp("us"), "America/New_York"),
        (pa.timestamp("s"), "GMT+8"),
        (None, "UTC"),
    ],
    ids=["tz_utc", "tz_kolkata", "naive_new_york", "naive_fixed_offset", "int64_seconds"],
)
def test_in_process_put_matches_staged_put(engine, ts_type, zone):
    """The same upload sent once in-process and once through the staged
    Spark path reconstructs the same points: identical for the lossless
    field, within the bound for the lossy one, and every added file
    carries the commit-log stats readers prune with."""
    import numpy as np

    spark = engine.spark
    old_zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    server = start_server(engine)
    try:
        client = ModelarFlightClient(f"grpc://127.0.0.1:{server.port}")
        for name in ("p_mem", "p_staged"):
            client.create(_PARITY_DDL.format(name=name))
        upload = _parity_upload(ts_type)
        client.write("p_mem", upload)
        server.put_spill_bytes = 1  # every batch spills: the staged path
        client.write("p_staged", upload)
        mem, staged = _gridded(engine, "p_mem"), _gridded(engine, "p_staged")
    finally:
        server.shutdown()
        spark.conf.set("spark.sql.session.timeZone", old_zone)
    assert len(mem) == upload.num_rows
    for col in ("site", "unit", "us", "f"):
        assert mem[col].tolist() == staged[col].tolist(), col
    truth = upload.to_pandas().set_index(["site", "unit", "f"])["g"]
    for got in (mem, staged):
        want = truth.loc[list(zip(got["site"], got["unit"], got["f"]))].to_numpy()
        assert np.abs(got["g"].to_numpy() - want).max() <= 0.5
    if zone == "UTC":
        secs = upload.column("timestamp").cast(pa.int64()).to_numpy()
        if ts_type is not None:
            secs = secs // 1_000_000
        assert sorted(mem["us"]) == sorted(secs * 1_000_000)
    for name in ("p_mem", "p_staged"):
        _assert_file_stats(engine, name)
    files = engine.folder.log("p_mem").snapshot().files
    assert len(files) == 2  # one per field
    for f in files:
        pf = pq.ParquetFile(
            urlparse(engine.folder.fs.join(engine.folder.table_path("p_mem"), f["path"])).path
        )
        assert "field_column" not in pf.schema_arrow.names
        body = pf.read(columns=["site", "unit", "start_time"])
        keys = list(zip(*(body.column(c).to_pylist() for c in body.column_names)))
        assert keys == sorted(keys)
        group = pf.metadata.row_group(0)
        stats = {group.column(c).path_in_schema: group.column(c).statistics for c in range(group.num_columns)}
        for c in ("start_time", "end_time", "model_type_id", "ts_kind", "value_count"):
            assert stats[c].has_min_max, c


@pytest.mark.parametrize(
    "ddl",
    [
        "CREATE TABLE {name}(timestamp TIMESTAMP, f FLOAT, g FLOAT, site STRING, unit STRING)",
        _PARITY_DDL,
    ],
    ids=["normal_table", "bool_field"],
)
def test_spark_fallback_put_matches_staged_put_across_dst_gap(engine, ddl):
    """Uploads that ``Engine.write`` hands to ``spark.createDataFrame``
    (every normal table, and a time series upload with a column type
    the in-process cast leaves to Spark, here a boolean field) read
    tz-naive timestamps as wall-clock times in the session zone, as the
    staged parquet read does. Rows in the America/New_York
    spring-forward gap land where the staged put puts them instead of
    failing the put."""
    from modelardb_rs_spark.operators import compress as compress_ops

    spark = engine.spark
    upload = _parity_upload(pa.timestamp("us"))
    if ddl == _PARITY_DDL:
        f = upload.column("f").cast(pa.int64()).to_numpy() % 2 == 1
        upload = upload.set_column(1, "f", pa.array(f))
    old_zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    server = start_server(engine)
    try:
        client = ModelarFlightClient(f"grpc://127.0.0.1:{server.port}")
        for name in ("s_mem", "s_staged"):
            client.create(ddl.format(name=name))
        if ddl == _PARITY_DDL:
            meta = engine.catalog.time_series_metadata("s_mem")
            assert compress_ops.compress_arrow(upload, meta, "America/New_York") is None
        client.write("s_mem", upload)
        server.put_spill_bytes = 1  # every batch spills: the staged path
        client.write("s_staged", upload)
        mem, staged = _gridded(engine, "s_mem"), _gridded(engine, "s_staged")
    finally:
        server.shutdown()
        spark.conf.set("spark.sql.session.timeZone", old_zone)
    assert len(mem) == upload.num_rows
    assert mem.equals(staged)


def test_mixed_spark_and_in_process_files_answer_alike(engine):
    """A table holding Spark-written and in-process files answers the
    pushdown aggregates and the gridded scan like a table written wholly
    by Spark."""
    spark = engine.spark
    upload = _parity_upload(pa.timestamp("us", tz="UTC"))
    half = upload.num_rows // 2
    engine.read_sql(_PARITY_DDL.format(name="m_mixed"))
    engine.read_sql(_PARITY_DDL.format(name="m_spark"))
    engine.write("m_mixed", spark.createDataFrame(upload.slice(0, half)))
    engine.write("m_mixed", upload.slice(half))
    engine.write("m_spark", spark.createDataFrame(upload.slice(0, half)))
    engine.write("m_spark", spark.createDataFrame(upload.slice(half)))
    _assert_file_stats(engine, "m_mixed")

    aggs = "count(f) AS n, min(f) AS lo, max(f) AS hi, sum(f) AS s, avg(f) AS a"
    for where in ("", " WHERE timestamp >= timestamp '1970-01-01'"):
        for group in ("", " GROUP BY site, unit"):
            sel = f"SELECT {'site, unit, ' if group else ''}{aggs} FROM {{}}{where}{group}"
            order = " ORDER BY site, unit" if group else ""
            got = engine.read_sql(f"SELECT * FROM ({sel.format('m_mixed')}){order}").collect()
            want = engine.read_sql(f"SELECT * FROM ({sel.format('m_spark')}){order}").collect()
            assert got == want, (where, group)
    assert engine.explain_path("SELECT count(f) FROM m_mixed") == engine.explain_path(
        "SELECT count(f) FROM m_spark"
    )
    mixed, spark_only = _gridded(engine, "m_mixed"), _gridded(engine, "m_spark")
    for col in ("site", "unit", "us", "f"):
        assert mixed[col].tolist() == spark_only[col].tolist(), col
    assert (mixed["g"] - spark_only["g"]).abs().max() <= 1.0


def _job_ids(spark) -> set[int]:
    """Every job id in the status store. Job groups are thread-local and
    do_put runs on the server's thread, so jobs are counted globally."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    return {int(j.jobId()) for j in conv.asJava(sc._jsc.sc().statusStore().jobsList(None))}


def test_small_put_runs_no_spark_job(engine, monkeypatch):
    """A warm do_put of a small time-series batch fits and writes on the
    driver: no Spark job. An upload over ``_IN_PROCESS_PUT_BYTES`` that
    still fits one spill buffer, and one that spills, take the staged
    path and run jobs, which also shows the count is live."""
    import modelardb_rs_spark.flight as fl

    server = start_server(engine)
    try:
        client = ModelarFlightClient(f"grpc://127.0.0.1:{server.port}")
        client.create(_PARITY_DDL.format(name="jobs"))
        upload = _parity_upload(pa.timestamp("us", tz="UTC"))
        client.write("jobs", upload.slice(0, 40))  # warm-up
        before = _job_ids(engine.spark)
        client.write("jobs", upload.slice(40))
        assert _job_ids(engine.spark) - before == set()
        monkeypatch.setattr(fl, "_IN_PROCESS_PUT_BYTES", upload.slice(0, 40).nbytes - 1)
        before = _job_ids(engine.spark)
        client.write("jobs", upload.slice(0, 40))
        assert _job_ids(engine.spark) - before
        monkeypatch.undo()
        server.put_spill_bytes = 1
        before = _job_ids(engine.spark)
        client.write("jobs", upload.slice(0, 40))
        assert _job_ids(engine.spark) - before
    finally:
        server.shutdown()
    assert engine.read_sql("SELECT count(f) AS n FROM jobs").collect()[0]["n"] == 240


def test_put_with_null_field_commits_nothing(engine):
    """NULL in a field fails the upload at the client with the column
    named, leaves the table version unchanged and stages nothing."""
    server = start_server(engine)
    try:
        client = ModelarFlightClient(f"grpc://127.0.0.1:{server.port}")
        client.create(_PARITY_DDL.format(name="nulls"))
        upload = _parity_upload(pa.timestamp("us", tz="UTC"))
        client.write("nulls", upload.slice(0, 10))
        version = engine.folder.log("nulls").snapshot().version
        f = upload.column("f").to_pylist()
        f[3] = None
        bad = upload.set_column(1, "f", pa.array(f, pa.float32()))
        with pytest.raises(pa.ArrowException, match="NULL 'f'"):
            client.write("nulls", bad)
    finally:
        server.shutdown()
    assert engine.folder.log("nulls").snapshot().version == version
    fs = engine.folder.fs
    staging = fs.join(engine.folder.root, "_staging")
    assert not fs.exists(staging) or not fs.list(staging)
