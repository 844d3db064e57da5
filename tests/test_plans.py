"""Physical-plan shape assertions — the Spark analog of the reference's
TypeId-tree plan tests (model_simple_aggregates.rs:637-786): the
aggregate rewrite must produce a metadata-only scan (no Python decode
stage, narrow ReadSchema, pruned partitions), while the forced-grid path
must decode."""

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


@pytest.fixture()
def planned(engine, spark):
    engine.read_sql(
        "CREATE TIME SERIES TABLE p(timestamp TIMESTAMP, a FIELD, b FIELD, tag TAG)"
    )
    rows = [
        Row(
            timestamp=TS0 + datetime.timedelta(seconds=i),
            a=float(i),
            b=float(i) * 2,
            tag="t",
        )
        for i in range(500)
    ]
    engine.write("p", spark.createDataFrame(rows))
    return engine


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def planned_without_rows(spark, tmp_path):
    """The ``planned`` table written with a series cap of 0: no add-entry
    carries series rows, so simple aggregates take the Column path."""
    import modelardb_rs_spark.sources.datafolder as dfm
    from modelardb_rs_spark.engine import Engine

    engine = Engine(spark, str(tmp_path / "without_rows"))
    engine.read_sql(
        "CREATE TIME SERIES TABLE p(timestamp TIMESTAMP, a FIELD, b FIELD, tag TAG)"
    )
    rows = [
        Row(timestamp=TS0 + datetime.timedelta(seconds=i), a=float(i), b=float(i) * 2, tag="t")
        for i in range(500)
    ]
    with pytest.MonkeyPatch.context() as m:
        m.setattr(dfm, "_SERIES_ROWS_MAX", 0)
        engine.write("p", spark.createDataFrame(rows))
    assert not any("series" in f for f in engine.folder.log("p").snapshot().files)
    return engine


def _jobs_and_input_bytes(spark, group: str) -> tuple[int, int]:
    """Jobs run under job group ``group`` and the input bytes their
    stages read, from the status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    stages = {s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds}
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    listed = store.stageList(None, False, False, empty, sc._jvm.java.util.ArrayList())
    read = sum(int(st.inputBytes()) for st in conv.asJava(listed) if int(st.stageId()) in stages)
    return len(jobs), read


def _in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_pushdown_plan_has_no_python_stage(planned_without_rows):
    plan = plan_of(planned_without_rows.read_sql("SELECT count(a) AS c, sum(a) AS s FROM p"))
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    # narrow projection: only the stats columns are read
    assert "ReadSchema: struct<value_count:int,seg_sum:double>" in plan
    # partition pruning on the referenced field
    assert "field_column" in plan.split("PartitionFilters")[1][:80]


def test_log_answered_stats_query_reads_no_file(planned, planned_without_rows, spark):
    """With series rows in every entry the statement is answered on the
    driver: no FileScan, 0 input bytes, at most one (collect) job. The
    same statement over a table without rows scans the stats columns."""
    sql = "SELECT tag, count(a) AS c, sum(a) AS s, var_pop(b) AS v FROM p GROUP BY tag"
    df = planned.read_sql(sql)
    assert "FileScan" not in plan_of(df)
    df.collect()  # warm-up
    rows = _in_group(spark, "log_answer", lambda: planned.read_sql(sql).toArrow())
    assert rows.num_rows == 1
    jobs, read = _jobs_and_input_bytes(spark, "log_answer")
    assert jobs <= 1 and read == 0
    _in_group(spark, "column_path", lambda: planned_without_rows.read_sql(sql).toArrow())
    assert _jobs_and_input_bytes(spark, "column_path")[1] > 0


def _two_field_put(engine, name, seconds):
    import pyarrow as pa

    engine.write(name, pa.table({
        "timestamp": pa.array(
            [int(TS0.timestamp() + s) * 1_000_000 for s in seconds], pa.timestamp("us", tz="UTC")
        ),
        "a": pa.array([float(s) for s in seconds], pa.float32()),
        "b": pa.array([2.0 * s for s in seconds], pa.float32()),
        "tag": pa.array(["t"] * len(seconds)),
    }))


def test_warm_multifield_read_after_put_runs_no_probe_job(engine, spark):
    """Disjoint puts are proven duplicate-free from the commit log, so
    planning a multi-field read after a put runs no probe job."""
    engine.read_sql("CREATE TIME SERIES TABLE d(timestamp TIMESTAMP, a FIELD, b FIELD, tag TAG)")
    _two_field_put(engine, "d", range(0, 100))
    engine.table("d").count()  # warm-up
    _two_field_put(engine, "d", range(100, 200))
    _in_group(spark, "after_put", lambda: engine.table("d"))
    assert _jobs_and_input_bytes(spark, "after_put")[0] == 0
    version = engine.folder.log("d").snapshot().version
    proofs = [v for (n, ver, _), v in engine._disjoint_cache.items() if n == "d" and ver == version]
    assert proofs == [True]
    assert engine.table("d").count() == 200


def test_overlapping_puts_still_run_the_probe(engine, spark):
    """Interleaved puts of one series overlap in time: the log proves
    nothing, the probe runs and finds the overlap, and the read keeps
    every point."""
    engine.read_sql("CREATE TIME SERIES TABLE o(timestamp TIMESTAMP, a FIELD, b FIELD, tag TAG)")
    _two_field_put(engine, "o", range(0, 100, 2))
    _two_field_put(engine, "o", range(1, 100, 2))
    df = _in_group(spark, "overlap", lambda: engine.table("o"))
    assert _jobs_and_input_bytes(spark, "overlap")[0] > 0
    assert list(engine._disjoint_cache.values()) == [False]
    assert df.count() == 100


def test_forced_grid_plan_decodes(planned):
    plan = plan_of(
        planned.read_sql(
            "SELECT count(a) AS c FROM p WHERE timestamp >= timestamp '1970-01-01'"
        )
    )
    # the aggregate rewrite must NOT fire: the plan reconstructs points
    # (JVM explode fast path for this all-model table) instead of
    # aggregating stats columns
    assert "Generate explode" in plan or "MapInPandas" in plan
    assert "seg_sum" not in plan.split("ReadSchema")[-1]


def test_time_range_filters_reach_parquet(planned):
    df = planned.table("p", fields=["a"], start=TS0, end=TS0 + datetime.timedelta(seconds=10))
    plan = plan_of(df)
    pushed = plan.split("PushedFilters")[1][:200]
    # Spark elides long filter lists in toString ("GreaterThanOrEqual(
    # end_tim..."), so assert the interval rewrite's leading filters up
    # to wherever the truncation falls.
    assert "GreaterThanOrEqual(end_tim" in pushed
    assert "IsNotNull(start_time)" in pushed


def test_single_field_grid_has_no_shuffle(planned):
    """Univariate reads must stay map-only (no Exchange before decode)."""
    df = planned.table("p", fields=["a"])
    plan = plan_of(df)
    assert "Generate explode" in plan or "MapInPandas" in plan
    assert "Exchange" not in plan


def test_all_fast_grid_has_no_python_stage(planned):
    """The fixture's data is exactly linear with regular timestamps, so
    every segment is PMC/Swing + regular; the commit-log per-file stats
    prove it and the gridded read must not contain a Python stage at all
    (pure whole-stage-codegen explode reconstruction)."""
    df = planned.table("p", fields=["a", "b"])
    plan = plan_of(df)
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Generate explode" in plan


def test_multifield_grid_single_shuffle(planned):
    df = planned.table("p", fields=["a", "b"])
    plan = plan_of(df)
    # exactly one exchange: the keyed reassembly on (timestamp, tags)
    assert plan.count("Exchange") == 1


def test_sql_projection_prunes_reassembly(planned):
    """SQL referencing one of two stored fields must run the univariate
    plan: no collect_list reassembly, no Exchange except the final
    aggregate's (Catalyst can't prune fields through the zip aggregate,
    so the engine prunes them at view-registration time)."""
    df = planned.read_sql(
        "SELECT tag, count(a) AS n FROM p "
        "WHERE timestamp >= timestamp '1970-01-01' GROUP BY tag"
    )
    plan = plan_of(df)
    assert "arrays_zip" not in plan and "ObjectHashAggregate" not in plan
    assert plan.count("Exchange") <= 1  # only the final GROUP BY shuffle
    # both fields referenced -> the reassembly is back (either shape:
    # the codegen pivot when the snapshot proves unique points, or the
    # duplicate-preserving collect_list+arrays_zip otherwise)
    both = plan_of(
        planned.read_sql(
            "SELECT count(a + b) AS n FROM p "
            "WHERE timestamp >= timestamp '1970-01-01'"
        )
    )
    assert "arrays_zip" in both or "max(CASE WHEN" in both


def test_pii_plan_is_map_only(spark):
    """PII counting must stay inside whole-stage codegen: no Exchange,
    no Python stage — it runs at scan bandwidth at any scale."""
    from modelardb_rs_spark.operators.pii import pii_counts

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = plan_of(pii_counts(docs))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_quality_signals_plan_has_no_python(spark):
    from modelardb_rs_spark.operators.text import quality_features, unigram_lm_scores

    docs = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    assert "Python" not in plan_of(quality_features(docs))
    # the LM scorer shuffles (freq build + join) but never leaves the JVM
    assert "Python" not in plan_of(unigram_lm_scores(docs))


def test_line_dedup_plan_shuffles_only_on_keys(spark):
    """Line dedup is O(total lines): its exchanges are hash shuffles on
    the line/doc keys — no broadcast of corpus-sized data, no Python."""
    from modelardb_rs_spark.operators.lines import remove_common_lines

    docs = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    plan = plan_of(remove_common_lines(docs))
    assert "Python" not in plan


@pytest.fixture()
def pushdown_table(engine, spark):
    engine.read_sql(
        "CREATE TIME SERIES TABLE pt(timestamp TIMESTAMP, f1 FIELD, tag TAG)"
    )
    rows = [
        Row(
            timestamp=TS0 + datetime.timedelta(seconds=i),
            f1=float(i),
            tag="a" if i % 2 == 0 else "b",
        )
        for i in range(300)
    ]
    engine.write("pt", spark.createDataFrame(rows))
    return engine


def test_sql_where_pushes_range_and_tags_into_view(pushdown_table):
    """A plain (non-aggregate) SELECT with an AND-only WHERE restricts
    the SEGMENT scan: timestamp bounds prune via the interval rewrite
    and tag equalities filter before decode."""
    engine = pushdown_table
    from pyspark.sql import functions as F

    sql = (
        "SELECT timestamp, f1 FROM pt "
        "WHERE timestamp >= TIMESTAMP '2024-01-01 00:02:00' AND tag = 'a' "
        "ORDER BY timestamp"
    )
    df = engine.read_sql(sql)
    plan = plan_of(df)
    # the segment-interval rewrite reached the scan subtree
    assert "end_time" in plan
    full = engine.table("pt", fields=["f1"])
    exp = (
        full.where((F.col("timestamp") >= "2024-01-01 00:02:00") & (F.col("tag") == "a"))
        .select("timestamp", "f1")
        .collect()
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, exp))


def test_sql_where_pushdown_declines_unsafe_shapes(pushdown_table):
    """OR / BETWEEN / UNION / multiple WHEREs keep the FULL view —
    results must match the unrestricted semantics exactly."""
    engine = pushdown_table
    from pyspark.sql import functions as F

    full = engine.table("pt", fields=["f1"]).select("timestamp", "f1", "tag")

    q_or = engine.read_sql(
        "SELECT timestamp, f1 FROM pt "
        "WHERE timestamp >= TIMESTAMP '2024-01-01 00:03:00' OR tag = 'a'"
    )
    exp_or = full.where(
        (F.col("timestamp") >= "2024-01-01 00:03:00") | (F.col("tag") == "a")
    ).select("timestamp", "f1")
    assert sorted(map(tuple, q_or.collect())) == sorted(map(tuple, exp_or.collect()))

    q_union = engine.read_sql(
        "SELECT count(*) AS n FROM ("
        "SELECT timestamp FROM pt WHERE timestamp < TIMESTAMP '2024-01-01 00:02:00' "
        "UNION ALL "
        "SELECT timestamp FROM pt WHERE timestamp >= TIMESTAMP '2024-01-01 00:02:00') u"
    )
    assert q_union.collect()[0]["n"] == full.count()

    q_between = engine.read_sql(
        "SELECT count(*) AS n FROM pt WHERE timestamp BETWEEN "
        "TIMESTAMP '2024-01-01 00:00:00' AND TIMESTAMP '2024-01-01 00:01:00' AND tag = 'a'"
    )
    exp_b = full.where(
        (F.col("timestamp") >= "2024-01-01 00:00:00")
        & (F.col("timestamp") <= "2024-01-01 00:01:00")
        & (F.col("tag") == "a")
    ).count()
    assert q_between.collect()[0]["n"] == exp_b


def test_bare_limit_prunes_segment_files(engine, spark):
    """`SELECT * FROM t LIMIT 10` must read O(limit) segment FILES, not
    the whole table: the commit-log point counts bound the scan with a
    time cutoff before Spark ever lists the data (reference pushes
    LIMIT into the scan, time_series_table.rs:447)."""
    engine.read_sql(
        "CREATE TIME SERIES TABLE lt(timestamp TIMESTAMP, a FIELD, b FIELD, tag TAG)"
    )
    for c in range(12):  # 12 commits -> >= 12 files per field
        rows = [
            Row(
                timestamp=TS0 + datetime.timedelta(seconds=c * 1000 + i),
                a=float(i),
                b=float(i) * 3,
                tag="t",
            )
            for i in range(500)
        ]
        engine.write("lt", spark.createDataFrame(rows))
    engine.register_views()
    full = len(engine.spark.table("lt").inputFiles())
    assert full >= 12
    sql = "SELECT * FROM lt LIMIT 10"
    engine.register_views(for_sql=sql)
    pruned = len(engine.spark.table("lt").inputFiles())
    assert pruned <= max(2, full // 6), (pruned, full)
    out = engine.read_sql(sql)
    got = out.collect()
    assert len(got) == 10
    # every returned row is a genuine table row
    engine.register_views()
    full_rows = {
        (r["timestamp"], r["a"], r["b"], r["tag"])
        for r in engine.spark.table("lt").collect()
    }
    for r in got:
        assert (r["timestamp"], r["a"], r["b"], r["tag"]) in full_rows
    # larger-than-table LIMIT falls back to the full scan, full result
    out_all = engine.read_sql("SELECT * FROM lt LIMIT 1000000")
    assert out_all.count() == 6000


def test_bare_limit_declines_unsafe_shapes(engine):
    """Aggregates, WHERE, ORDER BY etc. must NOT trigger the limit
    cutoff — any-n-rows is only a correct answer for a bare row scan."""
    from modelardb_rs_spark.plans.sql import analyze

    def bare_limit(sql):
        select = analyze(engine.spark, sql).select
        if select is None or select.bare_limit is None:
            return None
        return select.table, select.bare_limit

    assert bare_limit("SELECT * FROM t LIMIT 10") == ("t", 10)
    assert bare_limit("SELECT a, tag FROM t LIMIT 5") == ("t", 5)
    assert bare_limit("SELECT count(*) FROM t LIMIT 10") is None
    assert bare_limit("SELECT * FROM t WHERE a > 1 LIMIT 10") is None
    assert bare_limit("SELECT * FROM t ORDER BY a LIMIT 10") is None
    assert bare_limit("SELECT DISTINCT a FROM t LIMIT 10") is None
    assert bare_limit("SELECT * FROM t LIMIT 10 OFFSET 5") is None
    assert bare_limit("SELECT a FROM t JOIN u ON x = y LIMIT 3") is None
    assert bare_limit("SELECT max(a) OVER () FROM t LIMIT 2") is None


def test_failed_analysis_parse_logs_nothing(spark):
    """A statement the parser rejects with a query context has no
    analysis and its analysis parse logs nothing: the error is logged
    once, by ``spark.sql``. An ASOF JOIN still has no analysis."""
    import logging

    from pyspark.errors import ParseException
    from pyspark.logger import PySparkLogger

    from modelardb_rs_spark.plans.sql import analyze

    records = []

    class Keep(logging.Handler):
        def emit(self, record):
            records.append(record)

    logger, keep = PySparkLogger.getLogger("SQLQueryContextLogger"), Keep()
    logger.addHandler(keep)
    try:
        sql = "SELECT * FROM m WHERE v > 1e400"
        assert analyze(spark, sql) is None
        assert records == []
        asof = "SELECT l.k FROM a l ASOF JOIN b r ON l.k = r.k AND l.t >= r.t"
        assert analyze(spark, asof) is None
        assert records == []
        with pytest.raises(ParseException):
            spark.sql(sql)
        assert len(records) == 1
    finally:
        logger.removeHandler(keep)


_AT_5MIN = "TIMESTAMP '2024-01-01 00:05:00'"


@pytest.mark.parametrize(
    "sql",
    [
        f"SELECT count(a) AS n, sum(b) AS s FROM p WHERE timestamp >= {_AT_5MIN} OR a < 10",
        f"SELECT count(a) AS n FROM p WHERE timestamp >= {_AT_5MIN} AND (tag = 'x' OR a < 350)",
        f"SELECT count(a) AS n FROM p WHERE NOT (timestamp < {_AT_5MIN}) AND a < 400",
        f"SELECT count(*) AS n FROM p WHERE NOT (timestamp >= {_AT_5MIN} AND b > 100)",
        f"SELECT count(*) AS n FROM p WHERE timestamp >= {_AT_5MIN} AND a > (SELECT avg(a) FROM p)",
        f"SELECT count(*) AS n FROM p WHERE a IN (SELECT a FROM p WHERE timestamp < {_AT_5MIN})",
        "SELECT count(*) AS n FROM p x JOIN p y ON x.timestamp = y.timestamp "
        f"WHERE x.timestamp >= {_AT_5MIN} AND y.a < 450",
        "SELECT count(*) AS n, min(a) AS lo FROM (SELECT * FROM p ORDER BY timestamp LIMIT 320) q "
        f"WHERE timestamp >= {_AT_5MIN}",
        "SELECT count(*) AS n FROM (SELECT timestamp, a FROM p LIMIT 100) q WHERE a >= 0",
        f"WITH w AS (SELECT * FROM p WHERE timestamp >= {_AT_5MIN}) "
        "SELECT count(*) AS n FROM w u JOIN w v ON u.timestamp = v.timestamp",
    ],
)
def test_view_pushdown_matches_full_views(planned, sql):
    """OR, NOT, subqueries, a self-join, a LIMIT under a filter and a
    CTE read twice: read_sql equals the statement over the full,
    unrestricted views of every table."""
    got = sorted(planned.read_sql(sql).collect())
    planned.register_views()
    assert got == sorted(planned.spark.sql(sql).collect()), sql


def test_statement_reading_a_temp_view_gets_full_views(planned):
    """A SQL temp view can read any table and field: a statement that
    reads one gets every table's full view, with nothing pushed into
    the tables it names itself (here the field pruning to ``a`` would
    break the view's read of ``b``)."""
    planned.read_sql("CREATE OR REPLACE TEMP VIEW pv AS SELECT timestamp, b FROM p")
    try:
        row = planned.read_sql(
            "SELECT count(*) AS n, max(m) AS m FROM pv CROSS JOIN (SELECT max(a) AS m FROM p) q"
        ).collect()[0]
        assert (row.n, row.m) == (500, 499.0)
    finally:
        planned.spark.catalog.dropTempView("pv")


def test_filtered_limit_takes_no_limit_cutoff(planned):
    """A LIMIT over a WHERE must not cut the scan to the file prefix
    that holds n rows: those rows may all fail the filter."""
    rows = planned.read_sql(f"SELECT timestamp, a FROM p WHERE timestamp >= {_AT_5MIN} LIMIT 50").collect()
    assert len(rows) == 50 and all(r.a >= 300 for r in rows)


def test_read_sql_parses_a_select_once(planned, monkeypatch):
    """One Spark parse per SELECT, whichever path answers it."""
    from modelardb_rs_spark.plans import sql as sql_plan

    parsed = []
    analyze = sql_plan.analyze
    monkeypatch.setattr(
        sql_plan, "analyze", lambda spark, sql: parsed.append(sql) or analyze(spark, sql)
    )
    for sql in (
        "SELECT count(a) AS n FROM p",  # commit-log answer
        f"SELECT count(a) AS n FROM p WHERE timestamp >= {_AT_5MIN}",  # gridded
        "SELECT * FROM p VERSION AS OF 0 LIMIT 3",  # time travel, bare limit
    ):
        parsed.clear()
        planned.read_sql(sql).collect()
        assert len(parsed) == 1, sql
    parsed.clear()
    planned.explain_path(f"SELECT a FROM p WHERE timestamp >= {_AT_5MIN}", analyze=True)
    assert len(parsed) == 1


def test_planning_does_not_grow_with_the_catalog(engine, spark, monkeypatch):
    """A one-table gridded query plans the same with 0 or 20 unrelated
    time series tables in the catalog: the same ``Engine.table`` calls
    and at most 10% more py4j round trips (a view per catalog table
    once cost ~18x)."""
    import threading

    import pyarrow as pa

    from modelardb_rs_spark.engine import Engine

    ddl = "CREATE TIME SERIES TABLE {}(timestamp TIMESTAMP, f FIELD, g FIELD, tag TAG)"

    def upload(n):
        return pa.table({
            "timestamp": pa.array([10**6 * i for i in range(n)], pa.timestamp("us", tz="UTC")),
            "f": pa.array([float(i % 7) for i in range(n)], pa.float32()),
            "g": pa.array([float(i) for i in range(n)], pa.float32()),
            "tag": pa.array([f"s{i % 2}" for i in range(n)]),
        })

    engine.read_sql(ddl.format("m"))
    engine.write("m", upload(2000))
    sql = (
        "SELECT count(f), min(f), max(f), sum(f) FROM m "
        "WHERE timestamp >= TIMESTAMP '1970-01-01 00:05:00'"
    )
    client = spark.sparkContext._gateway._gateway_client
    main = threading.get_ident()
    tables, trips = [], [0]
    send, table = client.send_command, Engine.table

    def counted(*args, **kwargs):
        trips[0] += threading.get_ident() == main
        return send(*args, **kwargs)

    def recorded(self, *args, **kwargs):
        tables.append((args, kwargs))
        return table(self, *args, **kwargs)

    def plan():
        engine.read_sql(sql)  # warm: catalog, snapshot and proof caches
        tables.clear()
        trips[0] = 0
        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counted)
            m.setattr(Engine, "table", recorded)
            engine.read_sql(sql)
        return list(tables), trips[0]

    alone = plan()
    for i in range(20):
        engine.read_sql(ddl.format(f"other{i}"))
        engine.write(f"other{i}", upload(10))
    crowded = plan()
    assert crowded[0] == alone[0] and len(alone[0]) == 1
    assert 0 < crowded[1] <= 1.1 * alone[1], (alone[1], crowded[1])


def test_value_predicate_prunes_segments(planned):
    """`WHERE a > x` must prune segments by max_value BEFORE decode —
    the filter appears against the segment stats columns in the plan —
    and results must stay exact (post-decode re-filter unchanged)."""
    df = planned.read_sql("SELECT a FROM p WHERE a >= 450")
    plan = plan_of(df)
    assert "max_value" in plan  # stat pruning reached the segment scan
    assert df.count() == 50  # a = 0..499: exactly 450..499 qualify
    # the dual side: a < x prunes by min_value
    df2 = planned.read_sql("SELECT a FROM p WHERE a < 50")
    assert "min_value" in plan_of(df2)
    assert df2.count() == 50
    # a statement shape the conservative WHERE extractor declines (an
    # OR) must not prune — and must still answer exactly
    df3 = planned.read_sql("SELECT a FROM p WHERE a >= 450 OR a < 10")
    assert "max_value" not in plan_of(df3)
    assert df3.count() == 60


def test_value_predicate_declines_on_duplicates(engine, spark):
    """With duplicate (timestamp, series) points the multifield zip
    pairing would shift if one duplicate's segment were pruned — the
    pushdown must decline and results must match the unpruned answer."""
    engine.read_sql(
        "CREATE TIME SERIES TABLE dupv(timestamp TIMESTAMP, a FIELD, b FIELD, tag TAG)"
    )
    rows = [
        Row(timestamp=TS0, a=1.0, b=5.0, tag="t"),
        Row(timestamp=TS0, a=9.0, b=7.0, tag="t"),  # duplicate ts
        Row(timestamp=TS0 + datetime.timedelta(seconds=1), a=2.0, b=1.0, tag="t"),
    ]
    # two writes so the duplicates land in overlapping segments
    engine.write("dupv", spark.createDataFrame([rows[0], rows[2]]))
    engine.write("dupv", spark.createDataFrame([rows[1]]))
    out = engine.read_sql(
        "SELECT a, b FROM dupv WHERE a > 8 AND timestamp >= timestamp '1970-01-01'"
    ).collect()
    assert len(out) == 1 and out[0]["a"] == 9.0
    # the pairing of (9.0, b) must equal the unpruned view's pairing
    full = engine.table("dupv").where(F.col("a") > 8).collect()
    assert {(r["a"], r["b"]) for r in out} == {(r["a"], r["b"]) for r in full}


def test_ann_rank_is_two_phase(spark):
    """The ANN paths' shared top-k rank (similarity.ranked_topk) must
    plan as Spark's two-phase rank limit: a PARTIAL WindowGroupLimit
    before the exchange (each input partition forwards only its k best
    rows per query — the exchange never carries the corpus-sized
    scored set) and the FINAL limit + window after it. Pinning the
    shape catches regressions like an ordering expression the
    optimizer declines or k above windowGroupLimitThreshold."""
    from modelardb_rs_spark.operators import similarity
    from modelardb_rs_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    out = similarity.brute_force_topk(emb, queries, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    partial = plan.index("row_number(), 5, Partial")
    final = plan.index("row_number(), 5, Final")
    exchange = plan.index("Exchange hashpartitioning(query_id")
    # executedPlan prints top-down: Final < Exchange < Partial
    assert final < exchange < partial, plan
    assert out.count() == 4 * 5


def test_embedding_near_dup_pairs_verify_whole_buckets(spark):
    """The LSH near-dup leg groups its signature rows by (table,
    signature) and verifies each bucket in one pandas group: its
    executed plan joins nothing and evaluates no per-pair pandas UDF."""
    from modelardb_rs_spark.operators import similarity
    from modelardb_rs_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = similarity.embedding_near_dup_pairs(emb, threshold=0.999, tables=4)
    out.collect()
    plan = plan_of(out)
    assert "FlatMapGroupsInPandas" in plan, plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ArrowEvalPython"):
        assert node not in plan, plan


@pytest.mark.parametrize("path", ["ivfpq_topk", "ivf_index_topk"])
def test_ivfpq_rerank_probe_is_one_scan_one_exchange(engine, spark, path):
    """An IVF-PQ probe with rerank, and a flat IVF probe, read what they
    score in ONE scan of the vectors table (codes and raw vectors, or
    raw vectors only), shuffle once on query_id (both ranks share the
    exchange), join nothing and evaluate no pandas UDF. A warm
    single-query probe runs at most 3 Spark jobs: the query set's one
    ``toArrow`` of a limit, the rank's shuffle stage and the result."""
    from modelardb_rs_spark.operators import ann_index
    from modelardb_rs_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") == 3)
    pq = path == "ivfpq_topk"
    build = ann_index.build_ivfpq_index if pq else ann_index.build_ivf_index
    build(engine, "planpq", emb, bucket_col=None, n_buckets=8)
    rerank = {"rerank": 50} if pq else {}

    def probe():
        return getattr(ann_index, path)(engine, "planpq", q, k=5, nprobe=3, **rerank)

    out = probe()
    plan = plan_of(out)
    scans = plan.split("FileScan")[1:]
    assert len(scans) == 1, plan
    # the scan's Location is elided in the plan string: check its files
    assert out.inputFiles() and all("planpq__vectors" in f for f in out.inputFiles())
    read_schema = scans[0].split("ReadSchema:")[1].splitlines()[0]
    assert "embedding" in read_schema
    assert ("pq_codes" in read_schema) == pq
    assert plan.count("Exchange hashpartitioning(query_id") == 1, plan
    assert "Join" not in plan and "ArrowEvalPython" not in plan, plan
    assert len(out.collect()) == 5  # warm-up

    sc = spark.sparkContext
    group = f"{path}_probe_job_count"
    sc.setJobGroup(group, group)
    try:
        probe().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_asof_hot_key_window_partitions_by_time_bucket(spark):
    """The two-pass as-of plan's SCALE property is that the carried-
    value window partitions by (key, time bucket) — one hot key spreads
    over N tasks instead of one. Pin that in the physical plan: the
    Window operator's partition spec must include the bucket column
    (and the one-pass plan's must not)."""
    from modelardb_rs_spark.operators.asof import asof_join

    left = spark.range(200).selectExpr("CAST(0 AS INT) AS k", "id AS t", "id AS lv")
    right = spark.range(50).selectExpr(
        "CAST(0 AS INT) AS k", "id * 4 AS t", "id + 1000 AS rv"
    )
    two = asof_join(
        left, right, on="t", by=["k"], right_value_cols=["rv"], hot_key_buckets=8
    )
    plan2 = two._jdf.queryExecution().executedPlan().toString()
    win2 = [ln for ln in plan2.splitlines() if "Window" in ln and "windowspec" in ln.lower()]
    assert win2 and all("__b__" in ln for ln in win2), plan2[:2000]

    one = asof_join(left, right, on="t", by=["k"], right_value_cols=["rv"])
    plan1 = one._jdf.queryExecution().executedPlan().toString()
    win1 = [ln for ln in plan1.splitlines() if "Window" in ln and "windowspec" in ln.lower()]
    assert win1 and not any("__b__" in ln for ln in win1)


def test_collect_query_rows_is_one_job_and_bounded(spark):
    """The PQ probes' bounded query collect over a multi-partition frame
    runs one job (``toArrow`` of ``limit(n+1)``; a ``collect`` of the
    limit runs two) and still raises over the bound."""
    from modelardb_rs_spark.operators.similarity import collect_query_rows

    queries = spark.range(0, 40, numPartitions=4).selectExpr(
        "id AS vec_id", "array(CAST(id AS FLOAT), 1.0F) AS embedding"
    )
    collect_query_rows(queries, max_queries=40)  # warm-up
    group = "collect_query_rows_jobs"
    got = _in_group(spark, group, lambda: collect_query_rows(queries, max_queries=40))
    jobs, _ = _jobs_and_input_bytes(spark, group)
    assert jobs == 1
    assert got.num_rows == 40
    assert sorted(got.column("vec_id").to_pylist()) == list(range(40))
    with pytest.raises(ValueError, match="exceeds 39 rows"):
        collect_query_rows(queries, max_queries=39)


def _local_scan_only(df) -> str:
    plan = plan_of(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    return plan


def test_driver_built_frames_are_local_scans(engine, spark, monkeypatch):
    """Frames the engine builds on the driver execute as a
    ``LocalTableScan``, never a ``PythonRDD`` scan (``ExistingRDD``),
    which would start Python tasks to serialize a few rows."""
    from modelardb_rs_spark.frames import rows_frame
    from modelardb_rs_spark.operators import ann_index
    from modelardb_rs_spark.operators import compress as compress_ops

    # a time-ranged segment read that prunes every file
    engine.read_sql("CREATE TIME SERIES TABLE e(timestamp TIMESTAMP, f FIELD, tag TAG)")
    meta = engine.catalog.time_series_metadata("e")
    _local_scan_only(engine.folder.read_segments(meta, start_us=0, end_us=10))
    # a normal table with no files
    engine.create_table("n", "a INT, b STRING")
    assert engine.table("n").collect() == []
    _local_scan_only(engine.table("n"))
    # the residual step's (bucket, centroid) frame
    assigned = rows_frame(
        spark, [(1, [1.0, 2.0], 0), (2, [3.0, 5.0], 1)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, ivf_bucket INT",
    )
    resid = ann_index._residuals(spark, assigned, [(0, [0.5, 0.5]), (1, [1.0, 1.0])], "embedding")
    _local_scan_only(resid)
    assert sorted((r["vec_id"], list(r["__resid__"])) for r in resid.collect()) == [
        (1, [0.5, 1.5]), (2, [2.0, 4.0])
    ]
    # the compressor's per-series bucket plan, on its large-input path
    monkeypatch.setattr(compress_ops, "_SMALL_INPUT_BYTES", -1)
    points = spark.range(0, 100, numPartitions=2).selectExpr(
        "id * 1000000 AS ts", "CAST(id % 3 AS STRING) AS tag"
    )
    shaped = compress_ops._bucket_by_volume(points, "ts", ["tag"], 4)
    assert "BroadcastExchange" in _local_scan_only(shaped)
    assert shaped.count() == 100


def test_only_the_arrow_helper_calls_create_data_frame():
    """Frames built from Python rows go through ``frames.rows_frame``:
    ``createDataFrame`` appears only in the Arrow helper and, on Arrow
    table inputs, in the Flight server."""
    import pathlib
    import re

    import modelardb_rs_spark

    root = pathlib.Path(modelardb_rs_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for m in re.finditer(r"createDataFrame\(\s*(\S*)", path.read_text()):
            if rel == "frames.py" or (rel == "flight.py" and m[1].startswith("pa.Table")):
                continue
            offenders.append(f"{rel}: {m[0]}")
    assert not offenders, offenders


def test_jvm_decoded_range_is_labelled_partial(engine, spark):
    """A two-sided range over a table whose segments all decode on the
    JVM plans class (c) as ``explode(sequence(0, ...))``, no Python
    stage: the path still names the decode."""
    from modelardb_rs_spark.frames import rows_frame

    engine.read_sql("CREATE TIME SERIES TABLE pmc(timestamp TIMESTAMP, f FIELD(0.5), tag TAG)")
    t0 = int(TS0.timestamp())
    engine.write("pmc", rows_frame(
        spark,
        [((t0 + i) * 1_000_000, float((i // 100) % 3), "a") for i in range(600)],
        "timestamp BIGINT, f FLOAT, tag STRING",
    ).selectExpr("timestamp_micros(timestamp) AS timestamp", "f", "tag"))
    snap = engine.folder.log("pmc").snapshot()
    assert all(f.get("all_fast") for f in snap.files)

    def at(s):
        return f"timestamp '{TS0 + datetime.timedelta(seconds=s):%Y-%m-%d %H:%M:%S}'"

    sql = (f"SELECT count(f) AS n, sum(f) AS s FROM pmc "
           f"WHERE timestamp >= {at(50)} AND timestamp <= {at(450)}")
    plan = plan_of(engine.read_sql(sql))
    assert "Generate explode(sequence(0, " in plan and "MapInPandas" not in plan, plan
    assert "partial: boundary/slow segments decode" in engine.explain_path(sql)
    assert engine.read_sql(sql).collect()[0]["n"] == 401
