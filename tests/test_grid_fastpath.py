"""JVM grid fast path: PMC/Swing segments with regular timestamps are
reconstructed by pure Column algebra (operators/grid.py::_grid_jvm);
Gorilla / irregular segments keep the vectorized pandas decode. The two
branches must agree bitwise with the pandas decoder for every segment
shape (the reference pins GridExec semantics the same way,
crates/modelardb_storage/src/query/grid_exec.rs:261-391)."""

import datetime

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
US0 = int(TS0.timestamp()) * 1_000_000


def _mixed_rows(rng):
    """One series per shape: constant (PMC), linear (Swing), random
    (Gorilla), and an irregular-timestamp linear run."""
    rows = []
    for i in range(300):
        t = TS0 + datetime.timedelta(seconds=i)
        rows.append(Row(timestamp=t, v=1.5, tag="const"))
        rows.append(Row(timestamp=t, v=float(i) * 0.25 - 3.0, tag="linear"))
        rows.append(Row(timestamp=t, v=float(rng.standard_normal()), tag="random"))
    off = 0
    for i in range(300):
        off += int(rng.integers(1, 5)) * 250_000  # irregular µs steps
        rows.append(
            Row(
                timestamp=TS0 + datetime.timedelta(microseconds=off),
                v=float(i),
                tag="irregular",
            )
        )
    return rows


@pytest.fixture()
def mixed(engine, spark):
    engine.read_sql("CREATE TIME SERIES TABLE m(timestamp TIMESTAMP, v FIELD, tag TAG)")
    rng = np.random.default_rng(7)
    df = spark.createDataFrame(_mixed_rows(rng))
    engine.write("m", df)
    return engine, df


def _collected(df):
    return sorted(
        (r["tag"], int(r["timestamp"].timestamp() * 1_000_000), r["v"])
        for r in df.collect()
    )


def test_fast_path_matches_pandas_decode(mixed):
    """A zero fast fraction forces the all-pandas decode; results must
    be identical (bitwise float32) to the split plan."""
    engine, _ = mixed
    split = _collected(engine.table("m"))

    meta = engine.catalog.time_series_metadata("m")
    from modelardb_rs_spark.operators import grid as grid_ops

    pandas_only = _collected(grid_ops.grid(engine.segments("m"), meta, fast_fraction=0.0))
    assert split == pandas_only


def test_roundtrip_through_fast_path(mixed):
    """Lossless table: the gridded view must equal the ingested rows."""
    engine, df = mixed
    got = _collected(engine.table("m"))
    exp = sorted(
        (r["tag"], int(r["timestamp"].timestamp() * 1_000_000), np.float32(r["v"]))
        for r in df.collect()
    )
    assert len(got) == len(exp)
    assert got == [(t, ts, np.float32(v)) for t, ts, v in exp]


def test_fast_cond_splits_by_segment_shape(mixed):
    engine, _ = mixed
    segs = engine.segments("m")
    by_tag = {
        r["tag"]: (r["kinds"], r["models"])
        for r in segs.groupBy("tag")
        .agg(
            F.collect_set("ts_kind").alias("kinds"),
            F.collect_set("model_type_id").alias("models"),
        )
        .collect()
    }
    assert by_tag["const"][0] == [0] and by_tag["const"][1] == [0]
    assert by_tag["linear"][0] == [0] and by_tag["linear"][1] == [1]
    assert by_tag["random"][1] == [2]
    assert 1 in by_tag["irregular"][0]


def test_commit_log_records_all_fast(engine, spark):
    """A purely-linear write must be marked all_fast in its add entries;
    a random write must not — and the all-fast table's grid plan then
    has no Python stage (asserted in test_plans)."""
    engine.read_sql("CREATE TIME SERIES TABLE f(timestamp TIMESTAMP, v FIELD)")
    rows = [
        Row(timestamp=TS0 + datetime.timedelta(seconds=i), v=float(i)) for i in range(200)
    ]
    engine.write("f", spark.createDataFrame(rows))
    entries = [
        e for c in engine.folder.log("f").commits() for e in c.get("add", [])
    ]
    assert entries and all(e.get("all_fast") is True for e in entries)

    rng = np.random.default_rng(3)
    engine.read_sql("CREATE TIME SERIES TABLE g(timestamp TIMESTAMP, v FIELD)")
    rows = [
        Row(timestamp=TS0 + datetime.timedelta(seconds=i), v=float(rng.standard_normal()))
        for i in range(200)
    ]
    engine.write("g", spark.createDataFrame(rows))
    entries = [
        e for c in engine.folder.log("g").commits() for e in c.get("add", [])
    ]
    assert entries and not all(e.get("all_fast") is True for e in entries)


def test_commit_log_records_point_counts(engine, spark):
    """Every add entry records fast/total decoded-point counts, and
    read_segments aggregates them into info["fast_fraction"]."""
    rng = np.random.default_rng(11)
    engine.read_sql("CREATE TIME SERIES TABLE pc(timestamp TIMESTAMP, v FIELD)")
    rows = [
        Row(timestamp=TS0 + datetime.timedelta(seconds=i), v=float(rng.standard_normal()))
        for i in range(500)
    ]
    engine.write("pc", spark.createDataFrame(rows))
    entries = [e for c in engine.folder.log("pc").commits() for e in c.get("add", [])]
    assert entries
    assert all(
        isinstance(e.get("total_points"), int) and isinstance(e.get("fast_points"), int)
        for e in entries
    )
    assert sum(e["total_points"] for e in entries) == 500
    _, info = engine.segments("pc", with_info=True)
    assert info["fast_fraction"] is not None
    assert 0.0 <= info["fast_fraction"] <= 1.0


def test_negligible_fast_fraction_drops_jvm_branch(engine, spark):
    """A (nearly) all-Gorilla table must plan a single decode branch:
    the near-empty JVM fast branch would cost a second scan of the
    segment files to reconstruct almost nothing."""
    rng = np.random.default_rng(13)
    engine.read_sql("CREATE TIME SERIES TABLE ng(timestamp TIMESTAMP, v FIELD)")
    rows = [
        Row(timestamp=TS0 + datetime.timedelta(seconds=i), v=float(rng.standard_normal()))
        for i in range(2000)
    ]
    engine.write("ng", spark.createDataFrame(rows))
    _, info = engine.segments("ng", with_info=True)
    assert info["fast_fraction"] is not None and info["fast_fraction"] < 0.05
    plan = engine.table("ng")._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert plan.count("Scan parquet") == 1


def test_multifield_duplicate_pairing_deterministic(engine, spark):
    """Two writes leave duplicate points at the same (timestamp, tag)
    with DIFFERENT values in both fields: cross-field pairing must be
    value-rank <-> value-rank (sorted arrays before arrays_zip), stable
    across runs — not whatever order collect_list happened to see
    (reference positional semantics: sorted_join_exec.rs:278-310)."""
    engine.read_sql(
        "CREATE TIME SERIES TABLE dup(timestamp TIMESTAMP, a FIELD, b FIELD, tag TAG)"
    )
    base = [
        Row(timestamp=TS0 + datetime.timedelta(seconds=i), a=float(i), b=float(100 + i), tag="x")
        for i in range(50)
    ]
    # overwrite-style second batch: same timestamps, different values
    shadow = [
        Row(timestamp=TS0 + datetime.timedelta(seconds=i), a=float(1000 + i), b=float(2000 + i), tag="x")
        for i in range(50)
    ]
    engine.write("dup", spark.createDataFrame(base))
    engine.write("dup", spark.createDataFrame(shadow))

    def rows():
        return sorted(
            (r["tag"], int(r["timestamp"].timestamp() * 1_000_000), r["a"], r["b"])
            for r in engine.table("dup").collect()
        )

    first = rows()
    assert len(first) == 100
    # value-rank pairing: the smaller a pairs with the smaller b
    by_ts = {}
    for tag, ts, a, b in first:
        by_ts.setdefault(ts, []).append((a, b))
    for ts, pairs in by_ts.items():
        pairs.sort()
        assert len(pairs) == 2
        assert pairs[0][1] < pairs[1][1]  # a-rank matches b-rank
    for _ in range(3):
        assert rows() == first


def test_multifield_pivot_path_when_segments_disjoint(engine, spark):
    """One write -> per-series disjoint segments -> the multifield
    reassembly plans a codegen HashAggregate pivot (no ObjectHashAggregate
    collect_list); a second overlapping write invalidates the proof and
    the general path returns, still value-correct."""
    engine.read_sql(
        "CREATE TIME SERIES TABLE mp(timestamp TIMESTAMP, a FIELD, b FIELD, tag TAG)"
    )
    rows = [
        Row(timestamp=TS0 + datetime.timedelta(seconds=i), a=float(i), b=float(2 * i), tag="x")
        for i in range(200)
    ]
    engine.write("mp", spark.createDataFrame(rows))
    df = engine.table("mp")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ObjectHashAggregate" not in plan
    assert "collect_list" not in plan
    got = sorted((int(r["timestamp"].timestamp()), r["a"], r["b"]) for r in df.collect())
    exp = sorted(
        (int((TS0 + datetime.timedelta(seconds=i)).timestamp()), float(i), float(2 * i))
        for i in range(200)
    )
    assert got == exp

    # overlapping second write: duplicates possible -> general path
    engine.write("mp", spark.createDataFrame(rows[:50]))
    df2 = engine.table("mp")
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "ObjectHashAggregate" in plan2 or "collect_list" in plan2
    assert df2.count() == 250
    # a disjoint APPEND (later time range) keeps the pivot path
    rows2 = [
        Row(timestamp=TS0 + datetime.timedelta(seconds=1000 + i), a=1.0, b=2.0, tag="x")
        for i in range(10)
    ]
    engine.read_sql("CREATE TIME SERIES TABLE mp2(timestamp TIMESTAMP, a FIELD, b FIELD, tag TAG)")
    engine.write("mp2", spark.createDataFrame(rows))
    engine.write("mp2", spark.createDataFrame(rows2))
    plan3 = engine.table("mp2")._jdf.queryExecution().executedPlan().toString()
    assert "ObjectHashAggregate" not in plan3
    assert engine.table("mp2").count() == 210
