"""Engine end-to-end tests: DDL lifecycle, write→grid round-trip, SQL,
generated columns, DDL utilities — modeled on the reference integration
tests (crates/modelardb_server/tests/integration_test.rs:486-1058)."""

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from modelardb_rs_spark.types import ErrorBound


TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def make_points(spark, n=100, tags=("a", "b")):
    rows = [
        Row(
            timestamp=TS0 + datetime.timedelta(seconds=i),
            field_1=float(i % 10),
            field_2=float(i) * 0.5,
            tag=tags[i % len(tags)],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture()
def ts_engine(engine, spark):
    engine.read_sql(
        "CREATE TIME SERIES TABLE ts(timestamp TIMESTAMP, field_1 FIELD, "
        "field_2 FIELD(1.0), tag TAG)"
    )
    engine.write("ts", make_points(spark))
    return engine


def test_ddl_lifecycle(engine):
    engine.read_sql(
        "CREATE TIME SERIES TABLE t1(timestamp TIMESTAMP, f FIELD(5.0%), tag TAG)"
    )
    engine.create_table("n1", "a INT, b STRING")
    assert engine.tables() == {"t1": "time_series", "n1": "normal"}
    meta = engine.catalog.time_series_metadata("t1")
    assert meta.field_columns["f"] == ErrorBound.relative(5.0)
    engine.read_sql("DROP TABLE t1")
    assert engine.tables() == {"n1": "normal"}


def test_write_then_grid_roundtrip(ts_engine, spark):
    df = ts_engine.table("ts")
    rows = df.orderBy("timestamp", "tag").collect()
    assert len(rows) == 100
    assert df.columns == ["timestamp", "field_1", "field_2", "tag"]
    # field_1 is lossless: exact values back
    got = {(r.timestamp, r.tag): r.field_1 for r in rows}
    for i in range(100):
        t = TS0 + datetime.timedelta(seconds=i)
        assert got[(t.replace(tzinfo=None), ("a", "b")[i % 2])] == float(i % 10)
    # field_2 has absolute bound 1.0
    for r in rows:
        i = int((r.timestamp - TS0.replace(tzinfo=None)).total_seconds())
        assert abs(r.field_2 - i * 0.5) <= 1.0


def test_sql_over_gridded_view(ts_engine):
    out = ts_engine.read_sql(
        "SELECT tag, count(field_1) AS n FROM ts WHERE field_1 >= 5 GROUP BY tag ORDER BY tag"
    )
    rows = out.collect()
    assert [r.tag for r in rows] == ["a", "b"]
    assert sum(r.n for r in rows) == 50


def test_time_range_pruning(ts_engine):
    start = TS0 + datetime.timedelta(seconds=30)
    end = TS0 + datetime.timedelta(seconds=59)
    df = ts_engine.table("ts", start=start, end=end)
    assert df.count() == 30


def test_generated_column(engine, spark):
    engine.read_sql(
        "CREATE TIME SERIES TABLE g(timestamp TIMESTAMP, field_1 FIELD, "
        "generated FIELD AS (field_1 + 37.0), tag TAG)"
    )
    engine.write("g", make_points(spark).select("timestamp", "field_1", "tag"))
    rows = engine.table("g").collect()
    assert engine.table("g").columns == ["timestamp", "field_1", "generated", "tag"]
    for r in rows:
        assert r.generated == pytest.approx(r.field_1 + 37.0)


def test_normal_table_insert_and_select(engine):
    engine.create_table("normal_table", "ts TIMESTAMP, vals FLOAT, metadata FLOAT")
    engine.read_sql(
        "INSERT INTO normal_table VALUES "
        "(timestamp '2024-01-01 00:00:00', CAST(1.0 AS FLOAT), CAST(6.0 AS FLOAT)), "
        "(timestamp '2024-01-01 00:00:01', CAST(2.0 AS FLOAT), CAST(7.0 AS FLOAT))"
    )
    out = engine.read_sql("SELECT sum(vals) AS s, count(*) AS n FROM normal_table").collect()[0]
    assert out.s == 3.0 and out.n == 2


def test_insert_into_time_series(ts_engine):
    ts_engine.read_sql(
        "INSERT INTO ts VALUES (timestamp '2024-02-01 00:00:00', "
        "CAST(99.0 AS FLOAT), CAST(1.0 AS FLOAT), 'c')"
    )
    df = ts_engine.table("ts")
    assert df.count() == 101
    assert df.where(F.col("tag") == "c").collect()[0].field_1 == 99.0


def test_truncate(ts_engine):
    ts_engine.read_sql("TRUNCATE ts")
    assert ts_engine.table("ts").count() == 0
    assert "ts" in ts_engine.tables()


def test_ingest_parallelism_not_capped_by_tag_cardinality(engine, spark):
    """A single-tag-value table must still compress across many tasks —
    partitioning follows data volume (range on tags+time), not the
    number of distinct series."""
    from modelardb_rs_spark.operators import compress as compress_ops

    engine.read_sql("CREATE TIME SERIES TABLE one_tag(timestamp TIMESTAMP, f FIELD, tag TAG)")
    meta = engine.catalog.time_series_metadata("one_tag")
    pts = spark.range(200_000).select(
        (F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000).alias("timestamp"),
        (F.col("id") % 17).cast("float").alias("f"),
        F.lit("only").alias("tag"),
    )
    segments = compress_ops.compress(pts, meta)
    n_active = (
        segments.withColumn("pid", F.spark_partition_id())
        .select(F.countDistinct("pid").alias("n"))
        .collect()[0]
        .n
    )
    assert n_active >= 8, f"compression ran in only {n_active} partitions"


def test_drop_if_exists_is_noop(engine):
    engine.read_sql("DROP TABLE IF EXISTS never_created")  # no error
    with pytest.raises(KeyError):
        engine.read_sql("DROP TABLE never_created")


def test_drop_removes_the_view_and_recreate_reads_only_new_rows(engine, spark):
    """After DROP TABLE the name is unknown to SQL (not served by the
    view the last query registered), for both table kinds; a table
    re-created under the name reads only its own rows."""
    from pyspark.errors import AnalysisException

    ddl = {
        "d": "CREATE TIME SERIES TABLE d(timestamp TIMESTAMP, f FIELD, tag TAG)",
        "n": "CREATE TABLE n(timestamp TIMESTAMP, f FLOAT, tag STRING)",
    }
    schema = "timestamp timestamp, f float, tag string"

    def rows(lo, hi):
        return spark.createDataFrame(
            [(TS0 + datetime.timedelta(seconds=i), float(i), "a") for i in range(lo, hi)],
            schema,
        )

    for name, create in ddl.items():
        engine.read_sql(create)
        engine.write(name, rows(0, 10))
        q = f"SELECT count(*) AS c, min(f) AS lo FROM {name} WHERE tag = 'a' AND f >= 0"
        assert tuple(engine.read_sql(q).collect()[0]) == (10, 0.0)
        engine.read_sql(f"DROP TABLE {name}")
        with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
            engine.read_sql(q).collect()
        engine.read_sql(create)
        engine.write(name, rows(100, 103))
        assert tuple(engine.read_sql(q).collect()[0]) == (3, 100.0)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_field_rejected_on_both_write_paths(engine, spark, bad):
    """NaN/±inf field values cannot be stored (the models and segment
    stats hold finite values): both write paths raise one error naming
    the table and the field before any commit, leaving the version."""
    import pyarrow as pa

    engine.read_sql("CREATE TIME SERIES TABLE nf(timestamp TIMESTAMP, f FIELD, g FIELD, tag TAG)")
    engine.write("nf", spark.createDataFrame(
        [Row(timestamp=TS0, f=1.0, g=1.0, tag="a")], "timestamp timestamp, f float, g float, tag string"
    ))
    version = engine.folder.log("nf").snapshot().version
    message = r"nf: field 'g' holds NaN or infinite values"
    upload = pa.table({
        "timestamp": pa.array([10**6 * i for i in range(1, 5)], pa.timestamp("us", tz="UTC")),
        "f": pa.array([1.0, 2.0, 3.0, 4.0], pa.float32()),
        "g": pa.array([1.0, bad, 3.0, 4.0], pa.float32()),
        "tag": pa.array(["a"] * 4),
    })
    with pytest.raises(ValueError, match=message):
        engine.write("nf", upload)  # in-process fit
    frame = spark.createDataFrame(
        [(TS0, 1.0, 1.0, "a"), (TS0 + datetime.timedelta(seconds=1), 2.0, bad, "a")],
        "timestamp timestamp, f double, g double, tag string",
    )
    with pytest.raises(Exception, match=message):
        engine.write("nf", frame)  # Spark fit
    assert engine.folder.log("nf").snapshot().version == version
    assert engine.read_sql("SELECT count(*) AS c FROM nf WHERE tag = 'a'").collect()[0].c == 1


def test_null_field_rejected_at_write(engine, spark):
    engine.read_sql("CREATE TIME SERIES TABLE nn(timestamp TIMESTAMP, f FIELD, tag TAG)")
    pts = spark.createDataFrame(
        [Row(timestamp=TS0, f=1.0, tag="a"), Row(timestamp=TS0, f=None, tag="a")],
        "timestamp timestamp, f double, tag string",
    )
    with pytest.raises(Exception, match="NULL 'f'"):
        engine.write("nn", pts)


def test_arrow_write_leaves_other_types_to_spark(engine, spark):
    """``Engine.write`` fits an Arrow table in-process only for column
    types whose Spark cast it reproduces. Others (here ns timestamps, a
    boolean field, a float tag) go through ``spark.createDataFrame`` and
    land as the DataFrame write of the same table does. A NULL
    timestamp in-process fails like the Spark path, naming the column."""
    import pyarrow as pa

    from modelardb_rs_spark.operators import compress as compress_ops

    table = pa.table({
        "timestamp": pa.array([i * 10**9 + 1_500 for i in range(20)], pa.timestamp("ns", tz="UTC")),
        "f": pa.array([i % 3 == 0 for i in range(20)]),
        "tag": pa.array([float(i % 2) for i in range(20)]),
    })
    for name in ("arrow_in", "frame_in"):
        engine.read_sql(f"CREATE TIME SERIES TABLE {name}(timestamp TIMESTAMP, f FIELD, tag TAG)")
    assert compress_ops.compress_arrow(table, engine.catalog.time_series_metadata("arrow_in"), 0) is None
    engine.write("arrow_in", table)
    engine.write("frame_in", spark.createDataFrame(table))
    q = "SELECT tag, unix_micros(timestamp) AS us, f FROM {} ORDER BY tag, us"
    got = engine.read_sql(q.format("arrow_in")).collect()
    assert len(got) == 20
    assert got == engine.read_sql(q.format("frame_in")).collect()

    bad = pa.table({
        "timestamp": pa.array([None, 1], pa.timestamp("us")),
        "f": pa.array([1.0, 2.0], pa.float32()),
        "tag": pa.array(["a", "a"]),
    })
    version = engine.folder.log("arrow_in").snapshot().version
    with pytest.raises(ValueError, match="NULL 'timestamp'"):
        engine.write("arrow_in", bad)
    assert engine.folder.log("arrow_in").snapshot().version == version


def test_epoch_zero_is_a_real_boundary(engine, spark):
    """start=1970-01-01 must bound the aggregate, not be treated as
    'no range' — tables can hold pre-1970 (negative-µs) points."""
    engine.read_sql("CREATE TIME SERIES TABLE ez(timestamp TIMESTAMP, f FIELD, tag TAG)")
    t_neg = datetime.datetime(1969, 12, 31, 23, 0, tzinfo=datetime.timezone.utc)
    rows = [Row(timestamp=t_neg + datetime.timedelta(minutes=i), f=100.0, tag="a") for i in range(30)]
    rows += [Row(timestamp=TS0 + datetime.timedelta(seconds=i), f=1.0, tag="a") for i in range(10)]
    engine.write("ez", spark.createDataFrame(rows))
    epoch0 = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    bounded = engine.read_time_series_table("ez", columns={"f": "count"}, start=epoch0).collect()
    assert bounded[0][0] == 10
    unbounded = engine.read_time_series_table("ez", columns={"f": "count"}).collect()
    assert unbounded[0][0] == 40


def test_vacuum_runs(ts_engine):
    ts_engine.read_sql("VACUUM")
    assert ts_engine.table("ts").count() == 100


def test_include_union(ts_engine, spark, tmp_path):
    from modelardb_rs_spark.engine import Engine

    other = Engine(spark, str(tmp_path / "other_folder"))
    other.read_sql(
        "CREATE TIME SERIES TABLE ts(timestamp TIMESTAMP, field_1 FIELD, "
        "field_2 FIELD(1.0), tag TAG)"
    )
    other.write("ts", make_points(spark, n=10))
    out = ts_engine.read_sql(
        f"INCLUDE '{other.folder.root}' SELECT count(field_1) AS n FROM ts"
    )
    assert sorted(r.n for r in out.collect()) == [10, 100]


def test_include_over_flight_address(ts_engine, spark, tmp_path):
    """INCLUDE 'grpc://...' fans the SELECT out to a live Flight node
    and unions its Arrow result with the local one (reference
    remote.rs:91-119)."""
    from modelardb_rs_spark.engine import Engine
    from modelardb_rs_spark.flight import start_server

    other = Engine(spark, str(tmp_path / "flight_folder"))
    other.read_sql(
        "CREATE TIME SERIES TABLE ts(timestamp TIMESTAMP, field_1 FIELD, "
        "field_2 FIELD(1.0), tag TAG)"
    )
    other.write("ts", make_points(spark, n=10))
    server = start_server(other)
    try:
        out = ts_engine.read_sql(
            f"INCLUDE 'grpc://127.0.0.1:{server.port}' "
            "SELECT count(field_1) AS n FROM ts"
        )
        assert sorted(r.n for r in out.collect()) == [10, 100]
        # mixed folder + Flight addresses in one statement
        out2 = ts_engine.read_sql(
            f"INCLUDE '{other.folder.root}', 'grpc://127.0.0.1:{server.port}' "
            "SELECT count(field_1) AS n FROM ts"
        )
        assert sorted(r.n for r in out2.collect()) == [10, 10, 100]
    finally:
        server.shutdown()


def test_copy_and_move(ts_engine, spark, tmp_path):
    from modelardb_rs_spark.engine import Engine

    target = Engine(spark, str(tmp_path / "target_folder"))
    ts_engine.copy_time_series_table("ts", target)
    assert target.table("ts").count() == 100
    ts_engine.move("ts", target)
    assert "ts" not in ts_engine.tables()
    assert target.table("ts").count() == 200


def test_engine_time_travel(ts_engine, spark):
    """Engine.table(version=..., timestamp_ms=...) reads older snapshots
    of both table kinds through the commit log."""
    ts_engine.write("ts", make_points(spark, n=50))
    hist = ts_engine.folder.history("ts")
    assert [h["version"] for h in hist] == [0, 1]
    assert ts_engine.table("ts", version=0).count() == 100
    assert ts_engine.table("ts", timestamp_ms=hist[0]["timestamp_ms"]).count() == 100
    assert ts_engine.table("ts").count() == 150
    # normal tables travel too
    from pyspark.sql import Row

    ts_engine.create_table("plain", spark.createDataFrame([Row(a=1)]).schema)
    ts_engine.write("plain", spark.createDataFrame([Row(a=1), Row(a=2)]))
    ts_engine.write("plain", spark.createDataFrame([Row(a=3)]))
    assert ts_engine.table("plain", version=0).count() == 2
    assert ts_engine.table("plain").count() == 3


def test_catalog_cas_concurrent_writers(spark, tmp_path):
    """Two catalog handles on the same folder (two processes): both
    CREATEs survive — versioned CAS, not last-writer-wins — and a losing
    duplicate create fails against the fresh snapshot."""
    import pytest as _pytest

    from modelardb_rs_spark.catalog import Catalog
    from modelardb_rs_spark.sources.hadoopfs import HadoopFS
    from pyspark.sql import types as T

    fs = HadoopFS(spark, str(tmp_path / "meta"))
    a = Catalog(fs.base, fs)
    b = Catalog(fs.base, fs)
    schema = T.StructType([T.StructField("x", T.LongType())])
    a.add_normal_table("t1", schema)
    b.add_normal_table("t2", schema)  # b never saw a's write until CAS reload
    assert set(a.tables()) == {"t1", "t2"}
    assert set(b.tables()) == {"t1", "t2"}
    with _pytest.raises(ValueError):
        b.add_normal_table("t1", schema)
    a.drop("t1")
    assert set(b.tables()) == {"t2"}


def test_catalog_reads_legacy_unversioned_file(spark, tmp_path):
    """Pre-CAS folders (a bare tables.json) load as the base version and
    the first mutation publishes version 0."""
    import json

    from modelardb_rs_spark.catalog import Catalog
    from modelardb_rs_spark.sources.hadoopfs import HadoopFS
    from pyspark.sql import types as T

    fs = HadoopFS(spark, str(tmp_path / "meta_legacy"))
    fs.mkdirs(fs.base)
    legacy = {
        "tables": {
            "old": {
                "kind": "normal",
                "schema": T.StructType([T.StructField("x", T.LongType())]).json(),
            }
        }
    }
    fs.write_bytes(fs.join(fs.base, "tables.json"), json.dumps(legacy).encode())
    cat = Catalog(fs.base, fs)
    assert set(cat.tables()) == {"old"}
    cat.add_normal_table("new", T.StructType([T.StructField("y", T.LongType())]))
    assert set(cat.tables()) == {"old", "new"}
    assert set(Catalog(fs.base, fs).tables()) == {"old", "new"}


def test_create_normal_table_via_sql(engine, spark):
    """Reference DDL surface: plain CREATE TABLE makes a normal
    data-folder table (parser.rs:58-160), usable by INSERT and SELECT."""
    engine.read_sql("CREATE TABLE sensors(id BIGINT, name STRING, cal DOUBLE)")
    assert engine.catalog.kind("sensors").name == "NORMAL"
    engine.read_sql("INSERT INTO sensors VALUES (1, 'a', 0.5), (2, 'b', 1.5)")
    rows = engine.read_sql("SELECT sum(cal) AS s, count(*) AS n FROM sensors").collect()
    assert rows[0].s == 2.0 and rows[0].n == 2


def test_reopen_folder_reregisters_tables(engine, spark, tmp_path):
    """Restart semantics (reference integration_test.rs:486-560): a fresh
    Engine over an existing data folder sees every table, its schema,
    its data, and its history — no in-memory state required."""
    import datetime

    from modelardb_rs_spark.engine import Engine

    TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    engine.read_sql("CREATE TIME SERIES TABLE ro(timestamp TIMESTAMP, f FIELD, tag TAG)")
    engine.read_sql("CREATE TABLE meta_t(k STRING, v BIGINT)")
    rows = [
        Row(timestamp=TS0 + datetime.timedelta(seconds=i), f=float(i), tag="a")
        for i in range(100)
    ]
    engine.write("ro", spark.createDataFrame(rows))
    engine.read_sql("INSERT INTO meta_t VALUES ('x', 1)")

    reopened = Engine(spark, engine.folder.root)
    assert set(reopened.tables()) >= {"ro", "meta_t"}
    assert reopened.table("ro").count() == 100
    assert reopened.read_sql("SELECT sum(f) AS s FROM ro").collect()[0].s == sum(range(100))
    assert reopened.read_sql("SELECT v FROM meta_t").collect()[0].v == 1
    assert [h["op"] for h in reopened.folder.history("ro")] == ["append"]
    # DDL through the reopened handle is visible to yet another handle
    reopened.read_sql("DROP TABLE meta_t")
    assert "meta_t" not in Engine(spark, engine.folder.root).tables()


def test_last_points_per_series(engine, spark):
    """last_points returns each series' final observation, found from
    segment metadata (only last segments decode)."""
    import datetime

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    t0 = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for s, n in (("a", 100), ("b", 57)):
        for i in range(n):
            rows.append(
                Row(
                    timestamp=t0 + datetime.timedelta(seconds=i),
                    value=float(i if s == "a" else -i),
                    sensor=s,
                )
            )
    engine.read_sql(
        "CREATE TIME SERIES TABLE lp(timestamp TIMESTAMP, value FIELD, sensor TAG)"
    )
    engine.write("lp", spark.createDataFrame(rows))
    got = {
        (r.sensor, r.field): (r.timestamp, r.value)
        for r in engine.last_points("lp").collect()
    }
    exp_a = (t0 + datetime.timedelta(seconds=99)).replace(tzinfo=None)
    exp_b = (t0 + datetime.timedelta(seconds=56)).replace(tzinfo=None)
    assert got == {
        ("a", "value"): (exp_a, 99.0),
        ("b", "value"): (exp_b, -56.0),
    }
    # a later append moves the answer forward
    engine.write(
        "lp",
        spark.createDataFrame(
            [Row(timestamp=t0 + datetime.timedelta(hours=2), value=777.0, sensor="b")]
        ),
    )
    got2 = {r.sensor: r.value for r in engine.last_points("lp").collect()}
    assert got2["b"] == 777.0 and got2["a"] == 99.0


def test_edge_points_preserve_duplicate_multiplicity(engine, spark):
    """Overlapping writes that tie at the edge bound: the OPERATOR emits
    every decoded edge row (reference positional-zip multiplicity,
    sorted_join_exec.rs:278-310), while the last_points API collapses to
    one deterministic row per series (documented contract)."""
    import datetime

    from pyspark.sql import Row

    from modelardb_rs_spark.operators import grid as grid_ops

    t0 = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
    rows = [
        Row(timestamp=t0 + datetime.timedelta(seconds=i), value=float(i), sensor="a")
        for i in range(10)
    ]
    engine.read_sql(
        "CREATE TIME SERIES TABLE dupe(timestamp TIMESTAMP, value FIELD, sensor TAG)"
    )
    engine.write("dupe", spark.createDataFrame(rows))
    # duplicate write of the same window: two segments tie at the edge
    engine.write("dupe", spark.createDataFrame(rows))

    segments, info = engine.segments("dupe", with_info=True)
    raw = grid_ops.edge_points(
        segments, ["sensor"], "last",
        may_have_slow=info["may_have_slow"], fast_fraction=info["fast_fraction"],
    ).collect()
    assert len(raw) == 2  # both edge rows survive
    assert {(r.sensor, r.value) for r in raw} == {("a", 9.0)}

    api = engine.last_points("dupe").collect()
    assert len(api) == 1 and api[0].value == 9.0


def test_first_points_per_series(engine, spark):
    import datetime

    from pyspark.sql import Row

    t0 = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
    rows = [
        Row(timestamp=t0 + datetime.timedelta(seconds=i), value=float(i), sensor=s)
        for s in ("a", "b")
        for i in range(40)
    ]
    engine.read_sql(
        "CREATE TIME SERIES TABLE fp(timestamp TIMESTAMP, value FIELD, sensor TAG)"
    )
    engine.write("fp", spark.createDataFrame(rows))
    # an EARLIER backfill write moves the first observation backward
    engine.write(
        "fp",
        spark.createDataFrame(
            [Row(timestamp=t0 - datetime.timedelta(hours=1), value=-5.0, sensor="a")]
        ),
    )
    got = {r.sensor: (r.timestamp, r.value) for r in engine.first_points("fp").collect()}
    assert got["a"] == ((t0 - datetime.timedelta(hours=1)).replace(tzinfo=None), -5.0)
    assert got["b"] == (t0.replace(tzinfo=None), 0.0)


def test_series_spans_metadata_only(engine, spark):
    import datetime

    from pyspark.sql import Row

    t0 = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
    rows = [
        Row(timestamp=t0 + datetime.timedelta(seconds=i), value=float(i), sensor=s)
        for s, cnt in (("a", 120), ("b", 45))
        for i in range(cnt)
    ]
    engine.read_sql(
        "CREATE TIME SERIES TABLE ss(timestamp TIMESTAMP, value FIELD, sensor TAG)"
    )
    engine.write("ss", spark.createDataFrame(rows))
    spans = {r.sensor: (r.first_ts, r.last_ts, r.n_points) for r in engine.series_spans("ss").collect()}
    naive = t0.replace(tzinfo=None)
    assert spans["a"] == (naive, naive + datetime.timedelta(seconds=119), 120)
    assert spans["b"] == (naive, naive + datetime.timedelta(seconds=44), 45)
    # metadata only: no decode, no Python stage
    plan = engine.series_spans("ss")._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "timestamps" not in plan


def test_include_over_flight_streams_large_results(engine, spark, tmp_path):
    """A >100k-row remote result must relay through bounded spill
    chunks into shared-storage staging (executors read it), never a
    whole-result read_all() on the driver — reference merges remote
    streams incrementally (remote.rs:91-119)."""
    from modelardb_rs_spark import flight as flight_mod
    from modelardb_rs_spark.engine import Engine
    from modelardb_rs_spark.flight import start_server

    other = Engine(spark, str(tmp_path / "flight_big"))
    other.create_table("wide", "id BIGINT, v DOUBLE")
    n = 150_000
    other.write(
        "wide",
        spark.range(n).select(
            F.col("id"), (F.col("id") % 97).cast("double").alias("v")
        ),
    )
    engine.create_table("wide", "id BIGINT, v DOUBLE")
    engine.write(
        "wide",
        spark.range(5).select(F.col("id"), F.lit(0.0).alias("v")),
    )
    server = start_server(other)
    spills = []
    fs = engine.folder.fs
    real_write_bytes = fs.write_bytes

    def counting_write_bytes(uri, data):
        if "/_staging/relay-" in uri:
            spills.append(len(data))
        return real_write_bytes(uri, data)

    fs.write_bytes = counting_write_bytes
    real_spill = flight_mod._RELAY_SPILL_BYTES
    flight_mod._RELAY_SPILL_BYTES = 256 << 10  # force many spills
    try:
        out = engine.read_sql(
            f"INCLUDE 'grpc://127.0.0.1:{server.port}' SELECT id, v FROM wide"
        )
        assert out.count() == n + 5
        # remote sum landed intact through the staged relay
        s = out.agg(F.sum("id").alias("s")).collect()[0]["s"]
        assert s == n * (n - 1) // 2 + 10
    finally:
        flight_mod._RELAY_SPILL_BYTES = real_spill
        fs.write_bytes = real_write_bytes
        server.shutdown()
    assert len(spills) >= 3, spills  # streamed, not one materialized blob
    assert max(spills) < 4 * (256 << 10), max(spills)
    # vacuum with retention 0 sweeps the consumed staging dirs
    engine.vacuum(retain_seconds=0)
    staging = fs.join(engine.folder.root, "_staging")
    assert not fs.exists(staging) or not list(fs.list(staging))


def test_default_reliable_checkpoint_survives_block_loss(spark, tmp_path):
    """Engine init must establish a reliable checkpoint directory
    without user setup, and lineage pinned through _truncate_lineage
    must survive losing every cached block (the executor-loss analog) —
    localCheckpoint would die here."""
    from modelardb_rs_spark.engine import Engine
    from modelardb_rs_spark.operators.dedup import _truncate_lineage

    eng = Engine(spark, str(tmp_path / "ckpt_folder"))
    ckpt_dir = spark.sparkContext.getCheckpointDir()
    assert ckpt_dir is not None  # set by Engine init, not the test
    df = spark.range(10_000).withColumn("v", (F.col("id") * 2).cast("long"))
    pinned = _truncate_lineage(df)
    # simulate block loss mid-iteration: unpersist EVERY persistent RDD
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in jmap.values():
        jrdd.unpersist()
    spark.catalog.clearCache()
    assert pinned.count() == 10_000
    assert pinned.agg(F.sum("v").alias("s")).collect()[0]["s"] == 10_000 * 9_999


def test_sweep_staging_liveness_guards(spark, engine):
    """VACUUM's staging sweep must (a) never delete the active session's
    Spark checkpoint subtree, even at retain 0, and (b) judge a dir's
    age by its newest FILE, not the dir entry's mtime — object stores
    report synthetic dir mtimes that make active dirs look stale."""
    import os
    import time

    from urllib.parse import urlparse

    fs = engine.folder.fs
    root = engine.folder.root
    lroot = urlparse(root).path or root
    spark.sparkContext.setCheckpointDir(fs.join(root, "_checkpoints"))
    ckpt = spark.sparkContext.getCheckpointDir()
    pinned = spark.range(1000).checkpoint()
    assert pinned.count() == 1000

    old = time.time() - 30 * 86400
    stale = os.path.join(lroot, "_staging", "relay-dead")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    os.utime(os.path.join(stale, "part-0.parquet"), (old, old))
    os.utime(stale, (old, old))

    # dir mtime forced stale, but the file inside is fresh => live
    active = os.path.join(lroot, "_staging", "relay-live")
    os.makedirs(active)
    with open(os.path.join(active, "part-0.parquet"), "wb") as f:
        f.write(b"y")
    os.utime(active, (old, old))

    engine.vacuum(retain_seconds=3600)
    assert not os.path.exists(stale)
    assert os.path.exists(active)  # newest-file mtime kept it alive

    # retain 0 sweeps everything EXCEPT the live checkpoint subtree
    engine.vacuum(retain_seconds=0)
    assert not os.path.exists(active)
    assert fs.exists(ckpt)
    assert pinned.count() == 1000  # lineage-truncated frame still readable


def test_utility_frames_keep_rows_and_schema(engine, spark):
    """SHOW TABLES, DESCRIBE and EXPLAIN ANALYZE build their frames from
    Arrow; rows and schema equal the ``createDataFrame(list, ddl)`` frames
    they replace, an empty SHOW TABLES included."""
    def same(df, rows, ddl):
        ref = spark.createDataFrame(rows, ddl)
        assert df.schema == ref.schema
        assert df.collect() == ref.collect()
        assert "PythonRDD" not in df._jdf.queryExecution().executedPlan().toString()

    same(engine.read_sql("SHOW TABLES"), [], "table_name string, table_type string")
    engine.read_sql(
        "CREATE TIME SERIES TABLE u(timestamp TIMESTAMP, f FIELD(1.0), g FIELD AS (f * 2), tag TAG)"
    )
    engine.create_table("n", "a INT, b STRING")
    same(engine.read_sql("SHOW TABLES"), [("n", "normal"), ("u", "time_series")],
         "table_name string, table_type string")
    ddl = "column_name string, data_type string, role string"
    same(engine.read_sql("DESCRIBE u"),
         [("timestamp", "timestamp", "timestamp"), ("f", "float", "field(1)"),
          ("g", "float", "field as (f * 2)"), ("tag", "string", "tag")], ddl)
    same(engine.read_sql("DESCRIBE n"), [("a", "int", "column"), ("b", "string", "column")], ddl)
    report = engine.explain_path("SELECT count(f) AS n FROM u", analyze=True)
    df = engine.read_sql("EXPLAIN ANALYZE SELECT count(f) AS n FROM u")
    assert df.schema == spark.createDataFrame([], "plan string").schema
    assert [r.plan for r in df.collect()][0] == report.splitlines()[0]
