"""Fuzz the aggregate-pushdown SQL rewrite: for randomly generated
simple aggregate statements, the rewritten (segment-stats) result must
match plain spark.sql over the gridded view — the engine-level version
of the reference's plan-equivalence oracle."""

import datetime
import itertools
import random

import pytest
from pyspark.sql import Row


TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
AGGS = ["count", "min", "max", "sum", "avg"]


@pytest.fixture(scope="module")
def fuzz_engine(spark, tmp_path_factory):
    from modelardb_rs_spark.engine import Engine

    eng = Engine(spark, str(tmp_path_factory.mktemp("fuzz_folder")))
    eng.read_sql(
        "CREATE TIME SERIES TABLE fz(timestamp TIMESTAMP, a FIELD, b FIELD(0.5), "
        "site TAG, unit TAG)"
    )
    rng = random.Random(7)
    rows = [
        Row(
            timestamp=TS0 + datetime.timedelta(seconds=i),
            a=float(rng.randint(0, 50)),
            b=rng.uniform(-100, 100),
            site=f"s{i % 3}",
            unit=f"u{i % 2}",
        )
        for i in range(2000)
    ]
    eng.write("fz", spark.createDataFrame(rows))
    return eng


def canonical(rows, ndigits=6):
    out = []
    for r in rows:
        vals = []
        for v in r:
            vals.append(round(v, ndigits) if isinstance(v, float) else v)
        out.append(tuple(vals))
    return sorted(out, key=str)


def test_fuzz_rewrite_matches_gridded(fuzz_engine):
    rng = random.Random(13)
    cases = 0
    for _ in range(25):
        n_aggs = rng.randint(1, 3)
        items = []
        for j in range(n_aggs):
            func = rng.choice(AGGS)
            col = rng.choice(["a", "b", "*"] if func == "count" else ["a", "b"])
            items.append(f"{func}({col}) AS x{j}")
        conds = []
        if rng.random() < 0.5:
            conds = [f"site = 's{rng.randint(0, 2)}'"]
            if rng.random() < 0.4:
                conds.append(f"unit = 'u{rng.randint(0, 1)}'")
        if rng.random() < 0.5:
            # a two-sided window, strict or not, on whole seconds where
            # points sit: the partial pushdown's boundary decode
            lo = rng.randint(0, 1500)
            hi = lo + rng.randint(1, 500)
            at = lambda s: f"timestamp '{(TS0 + datetime.timedelta(seconds=s)):%Y-%m-%d %H:%M:%S}'"
            conds.append(f"timestamp {rng.choice(['>=', '>'])} {at(lo)}")
            conds.append(f"timestamp {rng.choice(['<=', '<'])} {at(hi)}")
        rng.shuffle(conds)
        where = " WHERE " + " AND ".join(conds) if conds else ""
        group = ""
        group_cols = ""
        if rng.random() < 0.5:
            gcols = rng.sample(["site", "unit"], rng.randint(1, 2))
            group = " GROUP BY " + ", ".join(gcols)
            group_cols = ", ".join(gcols) + ", "
        sql = f"SELECT {group_cols}{', '.join(items)} FROM fz{where}{group}"

        fast = fuzz_engine.read_sql(sql)
        # the same statement with a rewrite-defeating predicate (a second
        # lower bound) runs on the gridded view through plain spark.sql
        defeat = " AND " if where else " WHERE "
        slow_sql = sql.replace(group, "") + defeat + "timestamp >= timestamp '1970-01-01'" + group
        slow = fuzz_engine.read_sql(slow_sql)
        assert "segment-stats pushdown" in fuzz_engine.explain_path(sql), sql
        assert "gridded" in fuzz_engine.explain_path(slow_sql), slow_sql

        f_rows = canonical([tuple(r) for r in fast.collect()])
        s_rows = canonical([tuple(r) for r in slow.collect()])
        assert f_rows == s_rows, f"mismatch for {sql!r}:\n{f_rows[:3]}\nvs\n{s_rows[:3]}"
        cases += 1
    assert cases == 25


def test_fuzz_time_bucket_rewrite_matches_gridded(fuzz_engine):
    """Random GROUP BY time_bucket statements: the resample rewrite must
    equal plain spark.sql over the gridded view with an equivalent
    date_trunc/floor bucketing."""
    from pyspark.sql import functions as F

    rng = random.Random(29)
    widths = [("30 seconds", 30_000_000), ("5 minutes", 300_000_000),
              ("10 minutes", 600_000_000), ("1 hour", 3_600_000_000)]
    for _ in range(12):
        wname, wus = rng.choice(widths)
        n_aggs = rng.randint(1, 2)
        items, agg_exprs = [], []
        for j in range(n_aggs):
            func = rng.choice(AGGS)
            col = rng.choice(["a", "b"])
            items.append(f"{func}({col}) AS x{j}")
            agg_exprs.append(getattr(F, func)(col).alias(f"x{j}"))
        gtags = rng.sample(["site", "unit"], rng.randint(0, 2))
        gkeys = ", ".join([f"time_bucket('{wname}', timestamp)"] + gtags)
        proj = ", ".join(
            [f"time_bucket('{wname}', timestamp) AS b"] + gtags + items
        )
        where = ""
        if rng.random() < 0.4:
            where = f" WHERE site = 's{rng.randint(0, 2)}'"
        sql = f"SELECT {proj} FROM fz{where} GROUP BY {gkeys}"
        fast = fuzz_engine.read_sql(sql)

        grid = fuzz_engine.table("fz")
        if where:
            grid = grid.where(F.col("site") == where.split("'")[1])
        ref = (
            grid.withColumn(
                "__bk__",
                F.timestamp_micros(
                    (F.unix_micros("timestamp") / wus).cast("long") * wus
                ),
            )
            .groupBy("__bk__", *gtags)
            .agg(*agg_exprs)
            .withColumnRenamed("__bk__", "b")
        )
        f_rows = canonical([tuple(r) for r in fast.collect()])
        s_rows = canonical([tuple(r) for r in ref.collect()])
        assert f_rows == s_rows, f"mismatch for {sql!r}"


def test_fuzz_where_pushdown_matches_full_view(fuzz_engine):
    """Fuzz the view predicate pushdown: for random WHERE shapes (AND
    conjunctions, ORs, BETWEENs, >/>=/</<= bounds, tag equalities —
    some push into the segment scan, some must decline), read_sql must
    equal plain spark.sql over the UNRESTRICTED gridded views."""
    import random as _random

    rng = _random.Random(99)
    ts = lambda s: f"TIMESTAMP '2024-01-01 00:{s:02d}:00'"
    term_pool = [
        lambda: f"timestamp >= {ts(rng.randint(0, 30))}",
        lambda: f"timestamp > {ts(rng.randint(0, 30))}",
        lambda: f"timestamp < {ts(rng.randint(5, 33))}",
        lambda: f"timestamp <= {ts(rng.randint(5, 33))}",
        lambda: f"site = 's{rng.randint(0, 3)}'",
        lambda: f"unit = 'u{rng.randint(0, 2)}'",
        lambda: f"a >= {rng.randint(0, 40)}",
    ]
    for trial in range(20):
        n = rng.randint(1, 3)
        terms = [rng.choice(term_pool)() for _ in range(n)]
        glue = rng.choice([" AND ", " AND ", " OR "])  # mostly AND
        where = glue.join(terms)
        if rng.random() < 0.25:
            where += f" AND timestamp BETWEEN {ts(2)} AND {ts(20)}"
        sql = (
            "SELECT site, count(a) AS n, round(sum(b), 4) AS s FROM fz "
            f"WHERE {where} GROUP BY site"
        )
        got = canonical(fuzz_engine.read_sql(sql).collect(), 3)
        # expected: the same statement over UNRESTRICTED views
        fuzz_engine.register_views(for_sql=None)
        exp = canonical(fuzz_engine.spark.sql(sql).collect(), 3)
        assert got == exp, f"trial={trial} sql={sql}"


def test_fuzz_asof_sql_rewrite_matches_bruteforce(spark, fuzz_engine):
    """The ASOF JOIN SQL rewrite (operators/asof.py::rewrite_asof_sql)
    must match a brute-force per-row evaluation for random data with
    timestamp ties, random match op (>=, >) and join type, in both the
    DuckDB inequality-in-ON and Snowflake MATCH_CONDITION shapes."""
    import random

    from pyspark.sql import Row

    rng = random.Random(13)
    for trial in range(6):
        lrows = [
            Row(k=rng.randint(0, 3), t=rng.randint(0, 20), lv=i)
            for i in range(rng.randint(5, 25))
        ]
        rrows = [
            Row(rk=rng.randint(0, 3), rt=rng.randint(0, 20), rv=100 + i)
            for i in range(rng.randint(5, 25))
        ]
        # unique (key, time) on the right so "latest match" is unambiguous
        seen = set()
        rrows = [
            r for r in rrows
            if (r.rk, r.rt) not in seen and not seen.add((r.rk, r.rt))
        ]
        spark.createDataFrame(lrows).createOrReplaceTempView("fz_l")
        spark.createDataFrame(rrows).createOrReplaceTempView("fz_r")
        op = rng.choice([">=", ">"])
        left_join = rng.choice([True, False])
        jt = "ASOF LEFT JOIN" if left_join else "ASOF JOIN"
        if rng.random() < 0.5:
            sql = (
                f"SELECT l.k AS k, l.t AS t, l.lv AS lv, r.rt AS rt, r.rv AS rv "
                f"FROM fz_l l {jt} fz_r r ON l.k = r.rk AND l.t {op} r.rt"
            )
        else:
            sql = (
                f"SELECT l.k AS k, l.t AS t, l.lv AS lv, r.rt AS rt, r.rv AS rv "
                f"FROM fz_l l {jt} fz_r r MATCH_CONDITION (l.t {op} r.rt) "
                f"ON l.k = r.rk"
            )
        got = sorted(
            tuple(r) for r in fuzz_engine.read_sql(sql).collect()
        )
        want = []
        for lr in lrows:
            cands = [
                rr for rr in rrows
                if rr.rk == lr.k and (lr.t >= rr.rt if op == ">=" else lr.t > rr.rt)
            ]
            if cands:
                best = max(cands, key=lambda rr: rr.rt)
                want.append((lr.k, lr.t, lr.lv, best.rt, best.rv))
            elif left_join:
                want.append((lr.k, lr.t, lr.lv, None, None))
        assert got == sorted(want), f"trial {trial}: {sql}"


def test_asof_skewed_hot_key_correct(spark):
    """One key carrying ~all rows (the hot-key shape the docstring's
    skew bound describes): the window plan must stay CORRECT — the hot
    key serializes into one task's external sort, it must not lose or
    duplicate matches. Brute-force per-row oracle."""
    import random

    from pyspark.sql import Row

    from modelardb_rs_spark.operators.asof import asof_join

    rng = random.Random(31)
    # 2000 left rows: 95% on key 0, the rest spread over 9 keys
    lrows = [
        Row(k=0 if rng.random() < 0.95 else rng.randint(1, 9),
            t=rng.randint(0, 500), lv=i)
        for i in range(2000)
    ]
    seen = set()
    rrows = []
    for i in range(600):
        k = 0 if rng.random() < 0.95 else rng.randint(1, 9)
        t = rng.randint(0, 500)
        if (k, t) not in seen:
            seen.add((k, t))
            rrows.append(Row(k=k, t=t, rv=10_000 + i))
    out = asof_join(
        spark.createDataFrame(lrows),
        spark.createDataFrame(rrows),
        on="t",
        by=["k"],
        right_value_cols=["rv"],
    )
    got = sorted(tuple(r) for r in out.select("k", "t", "lv", "rv_right").collect())
    by_key = {}
    for rr in rrows:
        by_key.setdefault(rr.k, []).append(rr)
    want = []
    for lr in lrows:
        cands = [rr for rr in by_key.get(lr.k, []) if rr.t <= lr.t]
        best = max(cands, key=lambda rr: rr.t).rv if cands else None
        want.append((lr.k, lr.t, lr.lv, best))
    assert got == sorted(want)


def test_asof_hot_key_buckets_matches_one_pass(spark):
    """The two-pass time-bucketed variant (hot_key_buckets=N) must be
    value-identical to the one-pass window plan — fuzzed across random
    corpora including the 95%-hot-key shape, strict and non-strict,
    with and without tolerance, right timestamps unique per key (among
    EQUAL right timestamps any as-of picks an arbitrary row)."""
    import random

    from pyspark.sql import Row

    from modelardb_rs_spark.operators.asof import asof_join

    for trial, (hot_p, n_buckets, strict, tol) in enumerate(
        [
            (0.95, 8, False, None),   # the documented pathological shape
            (0.95, 8, True, None),
            (0.3, 4, False, 120),
            (0.0, 16, True, 60),
            (1.0, 5, False, None),    # ALL rows on one key
        ]
    ):
        rng = random.Random(100 + trial)
        lrows = [
            Row(k=0 if rng.random() < hot_p else rng.randint(1, 5),
                t=rng.randint(0, 400), lv=i)
            for i in range(800)
        ]
        seen, rrows = set(), []
        for i in range(300):
            k = 0 if rng.random() < hot_p else rng.randint(1, 5)
            t = rng.randint(0, 400)
            if (k, t) not in seen:
                seen.add((k, t))
                rrows.append(Row(k=k, t=t, rv=10_000 + i))
        ldf, rdf = spark.createDataFrame(lrows), spark.createDataFrame(rrows)
        kw = dict(
            on="t", by=["k"], right_value_cols=["rv"], strict=strict,
            tolerance_us=tol, match_ts_col="mt",
        )
        one = asof_join(ldf, rdf, **kw)
        two = asof_join(ldf, rdf, hot_key_buckets=n_buckets, **kw)
        cols = ["k", "t", "lv", "rv_right", "mt"]
        got_one = sorted(tuple(r) for r in one.select(*cols).collect())
        got_two = sorted(tuple(r) for r in two.select(*cols).collect())
        assert got_one == got_two, f"trial {trial}"
        # and both match the brute-force oracle
        by_key = {}
        for rr in rrows:
            by_key.setdefault(rr.k, []).append(rr)
        want = []
        for lr in lrows:
            cands = [
                rr for rr in by_key.get(lr.k, [])
                if (rr.t < lr.t if strict else rr.t <= lr.t)
            ]
            best = max(cands, key=lambda rr: rr.t) if cands else None
            if best is not None and tol is not None and lr.t - best.t > tol:
                best = None
            want.append(
                (lr.k, lr.t, lr.lv, best.rv if best else None,
                 best.t if best else None)
            )
        assert got_one == sorted(want), f"trial {trial} vs oracle"


def test_asof_hot_key_null_carried_values_match_one_pass(spark):
    """Nullable carried columns: the one-pass plan's last(c,
    ignorenulls=True) falls back past a NULL payload to an older
    non-null value, independently PER COLUMN, while match_ts tracks the
    latest right row regardless of payload nulls. The bucketed plan's
    per-column seed must reproduce that exactly (a whole-row seed would
    carry the NULL). Fuzzed with two carried columns going NULL
    independently, strict and non-strict, with and without tolerance,
    on a 95%-hot-key corpus."""
    import random

    from pyspark.sql import Row

    from modelardb_rs_spark.operators.asof import asof_join

    for trial, (strict, tol) in enumerate(
        [(False, None), (True, None), (False, 80), (True, 50)]
    ):
        rng = random.Random(500 + trial)
        lrows = [
            Row(k=0 if rng.random() < 0.95 else rng.randint(1, 3),
                t=rng.randint(0, 300), lv=i)
            for i in range(500)
        ]
        seen, rrows = set(), []
        for i in range(250):
            k = 0 if rng.random() < 0.95 else rng.randint(1, 3)
            t = rng.randint(0, 300)
            if (k, t) in seen:
                continue
            seen.add((k, t))
            rrows.append(Row(
                k=k, t=t,
                rv=None if rng.random() < 0.3 else 10_000 + i,
                rw=None if rng.random() < 0.5 else float(i),
            ))
        ldf = spark.createDataFrame(lrows)
        rdf = spark.createDataFrame(rrows, "k INT, t BIGINT, rv BIGINT, rw DOUBLE")
        kw = dict(on="t", by=["k"], right_value_cols=["rv", "rw"],
                  strict=strict, tolerance_us=tol, match_ts_col="mt")
        cols = ["k", "t", "lv", "rv_right", "rw_right", "mt"]
        one = sorted(tuple(r) for r in asof_join(ldf, rdf, **kw).select(*cols).collect())
        two = sorted(
            tuple(r)
            for r in asof_join(ldf, rdf, hot_key_buckets=7, **kw).select(*cols).collect()
        )
        assert one == two, f"trial {trial}"
        # null-aware brute-force oracle: mt = latest candidate's t;
        # each carried column = latest candidate with THAT column
        # non-null; tolerance gates on mt only (one-pass semantics)
        by_key = {}
        for rr in rrows:
            by_key.setdefault(rr.k, []).append(rr)
        want = []
        for lr in lrows:
            cands = [
                rr for rr in by_key.get(lr.k, [])
                if (rr.t < lr.t if strict else rr.t <= lr.t)
            ]
            mt = max((rr.t for rr in cands), default=None)
            rv = max((rr for rr in cands if rr.rv is not None),
                     key=lambda rr: rr.t, default=None)
            rw = max((rr for rr in cands if rr.rw is not None),
                     key=lambda rr: rr.t, default=None)
            rv, rw = rv.rv if rv else None, rw.rw if rw else None
            if tol is not None and (mt is None or lr.t - mt > tol):
                rv = rw = mt = None
            want.append((lr.k, lr.t, lr.lv, rv, rw, mt))
        assert one == sorted(want), f"trial {trial} vs oracle"


def test_asof_auto_hot_key_policy(spark):
    """hot_key_buckets='auto' engages the two-pass plan only when the
    key histogram's max exceeds the crossover threshold: uniform keys
    keep the one-pass window, a planted hot key (with the threshold
    lowered to test scale) gets the bucketed window — and the auto
    result stays value-identical to the one-pass plan."""
    from modelardb_rs_spark.operators.asof import asof_join

    left = spark.range(400).selectExpr(
        "CAST(id % 100 AS INT) AS k", "id AS t", "id AS lv"
    )
    right = spark.range(100).selectExpr(
        "CAST(id % 100 AS INT) AS k", "id * 3 AS t", "id + 1000 AS rv"
    )
    kw = dict(on="t", by=["k"], right_value_cols=["rv"])
    uniform = asof_join(left, right, hot_key_buckets="auto",
                        hot_key_threshold=50, **kw)
    plan_u = uniform._jdf.queryExecution().executedPlan().toString()
    assert "__b__" not in plan_u

    hot_left = spark.range(400).selectExpr(
        "CAST(0 AS INT) AS k", "id AS t", "id AS lv"
    )
    hot_right = spark.range(100).selectExpr(
        "CAST(0 AS INT) AS k", "id * 3 AS t", "id + 1000 AS rv"
    )
    hot = asof_join(hot_left, hot_right, hot_key_buckets="auto",
                    hot_key_threshold=50, **kw)
    plan_h = hot._jdf.queryExecution().executedPlan().toString()
    win = [ln for ln in plan_h.splitlines()
           if "Window" in ln and "windowspec" in ln.lower()]
    assert win and all("__b__" in ln for ln in win), plan_h[:2000]
    one = asof_join(hot_left, hot_right, **kw)
    cols = ["k", "t", "lv", "rv_right"]
    assert sorted(map(tuple, hot.select(*cols).collect())) == sorted(
        map(tuple, one.select(*cols).collect())
    )
    import pytest

    with pytest.raises(ValueError, match="auto"):
        asof_join(left, right, hot_key_buckets="turbo", **kw)


def test_asof_hot_key_null_by_keys_match_one_pass(spark):
    """NULL join keys: the one-pass window groups NULL keys into one
    partition and carries right values within it; the bucketed plan's
    seed join must therefore be NULL-SAFE — a plain equi-join would
    drop every NULL-key seed and diverge exactly when 'auto' engages on
    a NULL hot key. Fuzzed with ~40% NULL keys against the one-pass
    plan and a brute-force oracle that treats NULL as a key."""
    import random

    from pyspark.sql import Row

    from modelardb_rs_spark.operators.asof import asof_join

    for trial, (strict, tol) in enumerate([(False, None), (True, 70)]):
        rng = random.Random(900 + trial)
        key = lambda: None if rng.random() < 0.4 else rng.randint(1, 3)  # noqa: E731
        lrows = [Row(k=key(), t=rng.randint(0, 300), lv=i) for i in range(400)]
        seen, rrows = set(), []
        for i in range(200):
            k, t = key(), rng.randint(0, 300)
            if (k, t) in seen:
                continue
            seen.add((k, t))
            rrows.append(Row(k=k, t=t, rv=10_000 + i))
        ldf = spark.createDataFrame(lrows, "k INT, t BIGINT, lv BIGINT")
        rdf = spark.createDataFrame(rrows, "k INT, t BIGINT, rv BIGINT")
        kw = dict(on="t", by=["k"], right_value_cols=["rv"], strict=strict,
                  tolerance_us=tol, match_ts_col="mt")
        cols = ["k", "t", "lv", "rv_right", "mt"]
        skey = lambda tup: tuple((x is None, x) for x in tup)  # noqa: E731
        one = sorted(
            (tuple(r) for r in asof_join(ldf, rdf, **kw).select(*cols).collect()),
            key=skey,
        )
        two = sorted(
            (
                tuple(r)
                for r in asof_join(ldf, rdf, hot_key_buckets=6, **kw)
                .select(*cols)
                .collect()
            ),
            key=skey,
        )
        assert one == two, f"trial {trial}"
        by_key: dict = {}
        for rr in rrows:
            by_key.setdefault(rr.k, []).append(rr)
        want = []
        for lr in lrows:
            cands = [
                rr for rr in by_key.get(lr.k, [])
                if (rr.t < lr.t if strict else rr.t <= lr.t)
            ]
            best = max(cands, key=lambda rr: rr.t) if cands else None
            if best is not None and tol is not None and lr.t - best.t > tol:
                best = None
            want.append(
                (lr.k, lr.t, lr.lv, best.rv if best else None,
                 best.t if best else None)
            )
        assert one == sorted(want, key=skey), f"trial {trial} vs oracle"


@pytest.fixture(scope="module")
def fuzz_mixed_engine(spark, tmp_path_factory):
    """One Spark-written load plus in-process (Arrow) puts, some with
    NULL tags: every live file carries commit-log series rows."""
    import pyarrow as pa

    from modelardb_rs_spark.engine import Engine

    eng = Engine(spark, str(tmp_path_factory.mktemp("fuzz_mixed")))
    eng.read_sql(
        "CREATE TIME SERIES TABLE fm(timestamp TIMESTAMP, a FIELD, b FIELD(0.5), "
        "site TAG, unit TAG)"
    )
    rng = random.Random(11)
    eng.write("fm", eng.spark.createDataFrame([
        Row(timestamp=TS0 + datetime.timedelta(seconds=i), a=float(rng.randint(0, 50)),
            b=rng.uniform(-100, 100), site=f"s{i % 3}", unit=f"u{i % 2}")
        for i in range(1500)
    ]))
    for p in range(4):
        n = rng.randint(1, 80)
        eng.write("fm", pa.table({
            "timestamp": pa.array(
                [int(TS0.timestamp()) * 1_000_000 + (2000 + 100 * p + i) * 1_000_000
                 for i in range(n)], pa.timestamp("us", tz="UTC")),
            "a": pa.array([float(rng.randint(-5, 5)) for _ in range(n)], pa.float32()),
            "b": pa.array([rng.uniform(-1e3, 1e3) for _ in range(n)], pa.float32()),
            "site": pa.array([rng.choice(["s0", "s3", None]) for _ in range(n)]),
            "unit": pa.array([rng.choice(["u0", "u1", None]) for _ in range(n)]),
        }))
    assert all(f.get("series") for f in eng.folder.log("fm").snapshot().files)
    return eng


def test_fuzz_log_answer_matches_column_path(fuzz_mixed_engine, monkeypatch):
    """Random simple aggregates (variance family and absent tag values
    included): the commit-log answer has the Column path's schema, its
    exact counts/min/max and its sums up to f64 addition order, and
    agrees with the gridded view."""
    from pyspark.sql import types as T

    eng = fuzz_mixed_engine
    funcs = AGGS + ["var_pop", "var_samp", "variance", "stddev_pop", "stddev_samp", "stddev"]
    rng = random.Random(31)
    for _ in range(20):
        items = []
        for j in range(rng.randint(1, 4)):
            func = rng.choice(funcs)
            col = rng.choice(["a", "b", "*"] if func == "count" else ["a", "b"])
            items.append(f"{func}({col}) AS x{j}")
        conds = [f"site = 's{rng.randint(0, 4)}'"] if rng.random() < 0.5 else []
        if rng.random() < 0.3:
            conds.append(f"unit = 'u{rng.randint(0, 2)}'")
        where = " WHERE " + " AND ".join(conds) if conds else ""
        gcols = rng.sample(["site", "unit"], rng.randint(0, 2))
        group = " GROUP BY " + ", ".join(gcols) if gcols else ""
        proj = ", ".join(gcols + items)
        sql = f"SELECT {proj} FROM fm{where}{group}"
        assert "commit-log answer" in eng.explain_path(sql), sql
        log = eng.read_sql(sql)
        with monkeypatch.context() as m:
            m.setattr(eng, "_log_aggregates", lambda *args: None)
            column = eng.read_sql(sql)
        assert log.schema == column.schema, sql
        defeat = (" AND " if where else " WHERE ") + "timestamp >= timestamp '1970-01-01'"
        grid = eng.read_sql(f"SELECT {proj} FROM fm{where}{defeat}{group}")
        exact = [not isinstance(f.dataType, T.DoubleType) for f in log.schema.fields]
        got = sorted((tuple(r) for r in log.collect()), key=str)
        for other in (column, grid):
            want = sorted((tuple(r) for r in other.collect()), key=str)
            assert len(got) == len(want), sql
            for g, w in zip(got, want):
                for x, y, ex in zip(g, w, exact):
                    if ex or x is None or y is None:
                        assert x == y, (sql, g, w)
                    else:
                        assert x == pytest.approx(y, rel=1e-9, abs=1e-6), (sql, g, w)


def test_fuzz_kernel_matches_gridded(fuzz_mixed_engine, monkeypatch):
    """Random aggregates through the segment-aggregate kernel
    (``read_time_series_table``, ``resample`` and the SQL rewrite) equal
    the same aggregates over the gridded points: unbounded, one-sided
    and two-sided ranges, with and without time buckets and tag groups,
    all eleven functions. The commit-log answer is switched off so
    unbounded queries reach the kernel too."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    eng = fuzz_mixed_engine
    monkeypatch.setattr(eng, "_log_aggregates", lambda *args: None)
    funcs = AGGS + ["var_pop", "var_samp", "variance", "stddev_pop", "stddev_samp", "stddev"]
    at = lambda s: None if s is None else TS0 + datetime.timedelta(seconds=s)  # noqa: E731
    rng = random.Random(43)
    seen, sql_cases = set(), 0
    for case in range(24):
        lo = hi = None  # the data sits at seconds 0..1499 and 2000..2379
        if case % 3 == 1:
            if rng.random() < 0.5:
                lo = rng.randint(-100, 2500)
            else:
                hi = rng.randint(-100, 2500)
        elif case % 3 == 2:
            lo = rng.randint(-100, 2300)
            hi = lo + rng.randint(0, 900)
        width = rng.choice([7, 60, 300, 3600]) if case % 2 else None
        group = rng.sample(["site", "unit"], rng.randint(0, 2))
        cols = {f: rng.sample(funcs, 3 if width else 1) for f in ("a", "b")}
        seen.update(fn for chosen in cols.values() for fn in chosen)
        names = [f"{fn}_{f}" for f, chosen in cols.items() for fn in chosen]
        if lo is not None and hi is not None and rng.random() < 0.5:
            ts = lambda s: f"timestamp '{at(s):%Y-%m-%d %H:%M:%S}'"  # noqa: E731
            keys = ([f"time_bucket('{width} seconds', timestamp)"] if width else []) + group
            proj = ([f"{keys[0]} AS bucket"] if width else []) + group + [
                f"{fn}({f}) AS {fn}_{f}" for f, chosen in cols.items() for fn in chosen]
            tail = f" GROUP BY {', '.join(keys)}" if keys else ""
            sql = (f"SELECT {', '.join(proj)} FROM fm "
                   f"WHERE timestamp >= {ts(lo)} AND timestamp <= {ts(hi)}{tail}")
            assert "segment-stats pushdown" in eng.explain_path(sql), sql
            got, sql_cases = eng.read_sql(sql), sql_cases + 1
        elif width:
            got = eng.resample("fm", f"{width} seconds", cols, group, at(lo), at(hi))
        else:
            got = eng.read_time_series_table(
                "fm", {f: chosen[0] for f, chosen in cols.items()}, group, at(lo), at(hi)
            )
        grid = eng.table("fm", start=at(lo), end=at(hi))
        keys = group
        if width:
            us = width * 1_000_000
            grid = grid.withColumn("bucket", F.expr(
                f"timestamp_micros(unix_micros(timestamp) - pmod(unix_micros(timestamp), {us}))"))
            keys = ["bucket"] + group
        want = grid.groupBy(*keys).agg(*[
            getattr(F, fn)(f).alias(f"{fn}_{f}") for f, chosen in cols.items() for fn in chosen])
        label = (case, lo, hi, width, group, cols)
        assert got.columns == keys + names, label
        exact = [not isinstance(f.dataType, T.DoubleType) for f in got.schema.fields]
        g_rows = sorted((tuple(r) for r in got.collect()), key=str)
        w_rows = sorted((tuple(r) for r in want.select(*keys, *names).collect()), key=str)
        assert len(g_rows) == len(w_rows), label
        for g, w in zip(g_rows, w_rows):
            for x, y, ex in zip(g, w, exact):
                if ex or x is None or y is None:
                    assert x == y, (label, g, w)
                else:
                    assert x == pytest.approx(y, rel=1e-6, abs=1e-6), (label, g, w)
    assert seen == set(funcs) and sql_cases >= 2
