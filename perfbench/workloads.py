"""The benchmark's workloads.

Each workload prepares its tables from the generated inputs, then runs a
closed loop with one client: the next operation starts only after the
previous one returned and was checked. Operations are timed without
their checks. A loop runs whole cycles of its operation mix until at
least ``seconds`` have passed, so every run has the same mix.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.checks import (Checker, brute_force_topk, compare, compare_points,
                              compare_stats, recall_at_k, truth_stats)
from perfbench.tracer import Tracer, duration

SETUP_REPS = 3
# Median canary time on a lightly loaded 4-core host; time metrics are
# scaled by CANARY_REF_S / (this run's median canary), see ``_canary``.
CANARY_REF_S = 0.15
END_TO_END = ("setup_s", "op_p50_s", "op_mean_s", "write_points_per_s",
              "stored_bytes_per_input_byte", "peak_rss_mb")
SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "input_bytes", "shuffle_bytes")
COMPRESS_KEYS = ("jobs", "tasks", "shuffle_bytes", "executor_run_s")
MODELS = ("pmc", "swing", "gorilla")


def _ts_sql(us: int) -> str:
    t = dt.datetime.fromtimestamp(us / gen.US, tz=dt.timezone.utc)
    return f"TIMESTAMP '{t.strftime('%Y-%m-%d %H:%M:%S')}'"


def _col_us(table: pa.Table, name: str) -> np.ndarray:
    return table.column(name).cast(pa.timestamp("us", tz="UTC")).cast(pa.int64()).to_numpy()


def _col(table: pa.Table, name: str) -> np.ndarray:
    return table.column(name).to_numpy(zero_copy_only=False)


def pct(values: list[float], p: int) -> float:
    """The p-th percentile (``statistics.quantiles``, inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def _peak_rss_mb(spark) -> float:
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    return hwm("self") + hwm(spark.sparkContext._gateway.proc.pid)


def _live_bytes(engine, tables) -> int:
    return sum(int(f.get("size") or 0) for t in tables
               for f in engine.folder.log(t).snapshot().files)


def _canary(spark) -> float:
    """One fixed Spark job that runs no engine code. Its time tracks how
    fast this host runs Spark right now."""
    t0 = time.perf_counter()
    spark.range(0, 4_000_000, 1, 4).selectExpr("sum(id % 7)").collect()
    return time.perf_counter() - t0


class Series:
    """Numpy truth of one time series table: timestamps, tag codes and
    field values, plus each field's error bound."""

    def __init__(self, table: pa.Table, tag: str, fields: dict) -> None:
        self.ts = _col_us(table, "timestamp")
        self.tag_values = np.asarray(_col(table, tag), dtype=object)
        self.tag = tag
        self.fields = {f: _col(table, f).astype(np.float32) for f in fields}
        self.bounds = fields

    def mask(self, start=None, end=None, tag=None) -> np.ndarray:
        m = np.ones(len(self.ts), bool)
        if start is not None:
            m &= self.ts >= start
        if end is not None:
            m &= self.ts < end
        if tag is not None:
            m &= self.tag_values == tag
        return m

    def stats(self, field: str, m: np.ndarray) -> dict:
        return truth_stats(self.fields[field][m], self.bounds[field])

    def tags(self) -> list[str]:
        return sorted(set(self.tag_values.tolist()))


class Workload:
    """Shared machinery: set-up, the closed loop, timing and checks."""

    cycle = 1
    min_ops = 1

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool,
                 inputs: dict) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.inputs = inputs
        self.files = inputs["files"]
        self.checker = Checker()
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.tracer = Tracer(spark) if trace else None
        self.layers: dict[str, float] = {}
        self.write_points = 0
        self.write_s = 0.0
        self.canaries: list[float] = []

    # -- set-up ----------------------------------------------------------

    def setup(self) -> float:
        """A fresh engine with the fleet schema, a throwaway write and a
        read, repeated ``SETUP_REPS`` times. Returns the median."""
        from modelardb_rs_spark import Engine

        warm = self.files["warmup.parquet"]
        truth = pq.read_table(warm["path"])
        n_per_turbine = truth.num_rows // len(set(_col(truth, "turbine").tolist()))
        times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            eng = Engine(self.spark, os.path.join(self.work, f"setup-{rep}"))
            eng.read_sql(gen.FLEET_DDL.format(name="warm"))
            eng.write("warm", self.spark.read.parquet(warm["path"]))
            counts = eng.read_sql(
                "SELECT turbine, count(temp) AS n FROM warm GROUP BY turbine").toArrow()
            times.append(time.perf_counter() - t0)
            self.checker.op("setup", [f"count {n} != {n_per_turbine}" for n in _col(counts, "n")
                                      if n != n_per_turbine])
        self.setup_reps = times
        for _ in range(2):  # the canary's own first-use cost stays out of its samples
            _canary(self.spark)
        return statistics.median(times)

    # -- the loop ----------------------------------------------------------

    def op(self, i: int):
        """(class, run, check) of the i-th operation of the stream."""
        raise NotImplementedError

    def loop(self, start: int = 0, n_ops: int | None = None, lat=None) -> int:
        """Run operations from index ``start``: ``n_ops`` of them, or whole
        cycles until ``seconds`` have passed. Returns the next index."""
        lat = self.lat if lat is None else lat
        t_end = time.perf_counter() + self.seconds
        i = start
        while True:
            done = i - start
            if n_ops is not None:
                if done >= n_ops:
                    break
            elif done >= self.min_ops and done % self.cycle == 0 and time.perf_counter() >= t_end:
                break
            if n_ops is None and done % 2 == 0:
                self.canaries.append(_canary(self.spark))
            name, run, check = self.op(i)
            cls = name.split(".")[0]
            with (self.tracer.span(f"op.{cls}", kind=name) if self.tracer else nullcontext()):
                t0 = time.perf_counter()
                try:
                    out = run()
                except Exception as exc:  # counted, never hidden
                    self.checker.error(name, exc)
                    out = None
                lat[name].append(time.perf_counter() - t0)
            if out is not None:
                try:
                    self.checker.op(name, check(out))
                except Exception as exc:
                    self.checker.error(name, exc)
            i += 1
        if n_ops is None:
            self.canaries.append(_canary(self.spark))
        return i

    def timed_write(self, fn, points: int) -> None:
        t0 = time.perf_counter()
        fn()
        self.write_s += time.perf_counter() - t0
        self.write_points += points

    # -- the run ----------------------------------------------------------

    def run(self) -> dict:
        t = time.perf_counter()
        setup_s = self.setup()
        self.phases = {"setup": time.perf_counter() - t}
        if self.tracer:
            self.since = self.tracer.job_ids()
            self.tracer.install()
        t = time.perf_counter()
        self.canaries.append(_canary(self.spark))
        self.prepare()
        self.canaries.append(_canary(self.spark))
        self.phases["prepare"] = time.perf_counter() - t
        if self.tracer:
            self.tracer.uninstall()
        t = time.perf_counter()
        nxt = self.loop()
        self.phases["loop"] = time.perf_counter() - t
        untraced = [x for v in self.lat.values() for x in v]
        if self.tracer:
            traced_lat: dict[str, list[float]] = defaultdict(list)
            self.tracer.install()
            try:
                self.loop(start=nxt, n_ops=len(untraced), lat=traced_lat)
            finally:
                self.tracer.uninstall()
            self.traced_ops = [x for v in traced_lat.values() for x in v]
            self.untraced_ops = untraced
        t = time.perf_counter()
        self.finish()
        self.phases["finish"] = time.perf_counter() - t
        self.speed = CANARY_REF_S / statistics.median(self.canaries)
        raw = (setup_s, pct(untraced, 50), statistics.mean(untraced),
               self.write_points / self.write_s)
        self.raw = dict(zip(END_TO_END, raw))
        k = self.speed
        return dict(zip(END_TO_END, (
            raw[0] * k, raw[1] * k, raw[2] * k, raw[3] / k,
            self.stored_bytes_ratio(), _peak_rss_mb(self.spark))))

    def prepare(self) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Final checks after the loop."""

    def stored_bytes_ratio(self) -> float:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# fleet_edge: bulk ingest, then Flight micro-batches beside a query mix


class FleetEdge(Workload):
    """An edge node: the fleet's history and the irregular walk are bulk
    ingested with ``Engine.write``; then one client sends 60-second
    ``do_put`` micro-batches of the whole fleet, a dashboard ``do_get``
    after every 4th, and between them a query mix that is half
    stats-answerable and half reconstructing."""

    PLAN = ("append", "s_all", "g_window", "append", "s_group", "g_gapfill", "append",
            "s_walk_var", "g_reassemble", "append", "dashboard")
    cycle = len(PLAN)
    min_ops = len(PLAN)

    def prepare(self) -> None:
        from modelardb_rs_spark import Engine
        from modelardb_rs_spark.flight import ModelarFlightClient, start_server

        self.eng = Engine(self.spark, os.path.join(self.work, "edge"))
        self.server = start_server(self.eng)
        self.client = ModelarFlightClient(f"grpc://127.0.0.1:{self.server.port}")
        self.eng.read_sql(gen.FLEET_DDL.format(name="fleet"))
        self.eng.read_sql(gen.WALK_DDL.format(name="walk"))
        history = []
        for name, f in sorted(self.files.items()):
            if name.startswith("history-") or name == "walk.parquet":
                table = "walk" if name == "walk.parquet" else "fleet"
                self.timed_write(lambda: self.eng.write(table, self.spark.read.parquet(f["path"])),
                                 f["points"])
                if table == "fleet":
                    history.append(pq.read_table(f["path"]))
        self.live = pq.read_table(self.files["live.parquet"]["path"])
        z = self.inputs["sizes"]
        self.batch_rows = z["batch_s"] * z["turbines"]
        self.n_batches = z["batches"]
        self.fleet = Series(pa.concat_tables(history + [self.live]), "turbine", gen.FLEET_BOUNDS)
        self.walk = Series(pq.read_table(self.files["walk.parquet"]["path"]), "sensor",
                           {"value": None})
        self.turbines, self.sensors = self.fleet.tags(), self.walk.tags()
        self.sent_until = int(max(_col_us(t, "timestamp").max() for t in history)) + gen.US
        self.points = sum(f["points"] for n, f in self.files.items()
                          if n.startswith("history-") or n == "walk.parquet")

    def stored_bytes_ratio(self) -> float:
        return _live_bytes(self.eng, ["fleet", "walk"]) / (gen.POINT_BYTES * self.points)

    # -- the operation stream ---------------------------------------------

    def _plan(self, i: int):
        kind = self.PLAN[i % self.cycle]
        rng = np.random.default_rng([self.seed, i, 0x51])
        return kind, rng

    def sql_of(self, i: int):
        """The SQL text of op i, or None when op i is not a SQL query."""
        kind, rng = self._plan(i)
        return self._sql(kind, rng) if kind[:2] in ("s_", "g_") else None

    def _window(self, rng, lo, hi, min_s, max_s) -> tuple[int, int]:
        width = int(rng.integers(min_s, max_s + 1)) * gen.US
        a = lo + int(rng.integers(0, max((hi - lo - width) // gen.US, 1))) * gen.US
        return a, a + width

    @staticmethod
    def _stats_sql(table, field, aggs, where="", group=""):
        cols = ", ".join(f"{a}({field}) AS x_{a}" for a in aggs)
        sel = f"{group}, {cols}" if group else cols
        tail = f" GROUP BY {group}" if group else ""
        return f"SELECT {sel} FROM {table}{where}{tail}"

    def _sql(self, kind: str, rng):
        f, w = self.fleet, self.walk
        lo, hi = int(f.ts.min()), self.sent_until
        if kind == "s_all":
            field = ["temp", "power"][int(rng.integers(2))]
            return self._stats_sql("fleet", field, ("count", "min", "max", "sum", "avg"))
        if kind == "s_group":
            return self._stats_sql("fleet", "power", ("count", "min", "max", "avg", "var_pop"),
                                   group="turbine")
        if kind == "s_walk_var":
            tag = self.sensors[int(rng.integers(len(self.sensors)))]
            return self._stats_sql("walk", "value", ("count", "avg", "var_pop"),
                                   where=f" WHERE sensor = '{tag}'")
        if kind == "g_window":
            a, b = self._window(rng, lo, hi, 300, 3600)
            return self._stats_sql("fleet", "power", ("count", "min", "max", "sum"),
                                   where=f" WHERE timestamp >= {_ts_sql(a)} AND timestamp < {_ts_sql(b)}")
        if kind == "g_reassemble":
            tag = self.turbines[int(rng.integers(len(self.turbines)))]
            a, b = self._window(rng, lo, hi, 600, 1800)
            return (f"SELECT timestamp, temp, power FROM fleet WHERE turbine = '{tag}' "
                    f"AND timestamp >= {_ts_sql(a)} AND timestamp < {_ts_sql(b)}")
        return None  # g_gapfill is an API call

    def op(self, i: int):
        kind, rng = self._plan(i)
        if kind == "append":
            b = (i // self.cycle) * 4 + self.PLAN[:i % self.cycle].count("append")
            if b >= self.n_batches:
                raise RuntimeError("live input exhausted; raise SIZES['fleet_edge']['batches']")
            batch = self.live.slice(b * self.batch_rows, self.batch_rows)
            return "append", lambda: self._put(batch), lambda out: []
        if kind == "dashboard":
            return "dashboard", *self._dashboard()
        cls = f"{'stats' if kind.startswith('s_') else 'grid'}.{kind}"
        if kind == "g_gapfill":
            return cls, *self._gapfill(rng)
        sql = self._sql(kind, rng)
        f, w, eng = self.fleet, self.walk, self.eng
        where = re.search(r"timestamp >= TIMESTAMP '([^']+)' AND timestamp < TIMESTAMP '([^']+)'", sql)
        tag = re.search(r"(turbine|sensor) = '([^']+)'", sql)
        series = w if " FROM walk" in sql else f
        aggs = re.findall(r"(\w+)\((\w+)\) AS x_", sql)
        field = aggs[0][1] if aggs else "temp"
        aggs = [a for a, _ in aggs]
        m = series.mask(*(_parse_window(where) if where else (None, None)),
                        tag=tag.group(2) if tag else None)
        if series is f:
            m &= f.ts < self.sent_until
        if kind == "s_group":
            check = self._grouped_check(series, field, aggs, m)
        elif kind == "g_reassemble":
            check = self._points_check(m)
        else:
            check = self._scalar_check(series, field, aggs, m)
        return cls, (lambda: eng.read_sql(sql).toArrow()), check

    def _put(self, batch: pa.Table):
        self.client.write("fleet", batch)
        self.sent_until = int(_col_us(batch, "timestamp").max()) + gen.US
        self.points += 2 * batch.num_rows
        return batch

    # -- checks -------------------------------------------------------------

    def _grouped_check(self, series, field, aggs, m_all):
        def check(out):
            got_tags = _col(out, series.tag).tolist()
            problems = [] if sorted(got_tags) == series.tags() else [
                f"groups {sorted(got_tags)[:3]}..."]
            for r, tag in enumerate(got_tags):
                got = {a: out.column(f"x_{a}")[r].as_py() for a in aggs}
                problems += compare_stats(f"{field}[{tag}]", got,
                                          series.stats(field, m_all & series.mask(tag=tag)))
            return problems
        return check

    def _scalar_check(self, series, field, aggs, m):
        want = series.stats(field, m)

        def check(out):
            if out.num_rows != 1:
                return [f"{out.num_rows} rows, want 1"]
            return compare_stats(field, {a: out.column(f"x_{a}")[0].as_py() for a in aggs}, want)
        return check

    def _points_check(self, m):
        f = self.fleet
        order = np.argsort(f.ts[m], kind="stable")

        def check(out):
            idx = np.argsort(_col_us(out, "timestamp"), kind="stable")
            got_ts = _col_us(out, "timestamp")[idx]
            problems = [] if np.array_equal(got_ts, f.ts[m][order]) else ["timestamps differ"]
            for field in ("temp", "power"):
                problems += compare_points(field, _col(out, field)[idx],
                                           f.fields[field][m][order], f.bounds[field])
            return problems
        return check

    def _dashboard(self):
        """One ``do_get``: per turbine, the last point and the last five
        minutes aggregated."""
        f = self.fleet
        end = self.sent_until
        lo = end - 300 * gen.US
        sql = ("SELECT turbine, count(temp) AS x_count, avg(temp) AS x_avg, max(power) AS x_max, "
               "max(timestamp) AS last_ts, max_by(temp, timestamp) AS last_temp "
               f"FROM fleet WHERE timestamp >= {_ts_sql(lo)} GROUP BY turbine")
        self.dashboard_sql = sql

        def check(out):
            problems = [] if out.num_rows == len(self.turbines) else [
                f"{out.num_rows} turbines, want {len(self.turbines)}"]
            for r, tag in enumerate(_col(out, "turbine")):
                m = f.mask(lo, end, tag=tag)
                want = f.stats("temp", m)
                for agg in ("count", "avg"):
                    problems += compare(f"{agg}[{tag}]", out.column(f"x_{agg}")[r].as_py(), want[agg])
                problems += compare(f"max[{tag}]", out.column("x_max")[r].as_py(),
                                    f.stats("power", m)["max"])
                last = int(_col_us(out, "last_ts")[r])
                if last != end - gen.US:
                    problems.append(f"last[{tag}] at {last}, want {end - gen.US}")
                problems += compare_points(f"last[{tag}]", np.array([out.column("last_temp")[r].as_py()]),
                                           f.fields["temp"][m & (f.ts == end - gen.US)], f.bounds["temp"])
            return problems
        return (lambda: self.client.read(sql)), check

    def _gapfill(self, rng):
        """One sensor of the walk, 1-minute buckets over a window: the
        irregular series decode on the Python path."""
        w = self.walk
        tag = self.sensors[int(rng.integers(len(self.sensors)))]
        a, b = self._window(rng, int(w.ts.min()), int(w.ts.max()) - 3600 * gen.US, 1800, 3600)
        a, b = a - a % (60 * gen.US), b - b % (60 * gen.US)
        # the engine's start/end window is closed at both ends, so a point
        # exactly at ``b`` (sensor s00 samples on whole seconds) is in it
        m = w.mask(a, b + 1, tag=tag)
        ts, v = w.ts[m], w.fields["value"][m]
        keys = ts - ts % (60 * gen.US)
        start = dt.datetime.fromtimestamp(a / gen.US, tz=dt.timezone.utc)
        end = dt.datetime.fromtimestamp(b / gen.US, tz=dt.timezone.utc)

        def check(out):
            got_b = _col_us(out, "bucket")
            problems = []
            if len(got_b) != len(np.unique(keys)):
                problems.append(f"{len(got_b)} buckets, want {len(np.unique(keys))}")
            for bk, value in zip(got_b, _col(out, "value")):
                problems += compare(f"gapfill@{bk}", value, truth_stats(v[keys == bk], None)["avg"])
            return problems
        return (lambda: self.eng.gapfill("walk", "1 minute", "value", start=start, end=end,
                                         tags={"sensor": tag}).toArrow()), check

    def finish(self) -> None:
        # every acknowledged put is readable: exact counts per turbine
        f = self.fleet
        out = self.client.read("SELECT turbine, count(power) AS n FROM fleet GROUP BY turbine")
        problems = []
        for tag, n in zip(_col(out, "turbine"), _col(out, "n")):
            want = int(np.count_nonzero(f.mask(end=self.sent_until, tag=tag)))
            if n != want:
                problems.append(f"count[{tag}] {n} != {want}")
        self.checker.op("final_count", problems)
        if self.tracer:
            self.layers.update(fleet_layers(self))
            self.layers.update(query_layers(self))
            self.layers.update(live_layers(self))
        self.server.shutdown()


def _parse_window(match) -> tuple[int, int]:
    def us(s):
        t = dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=dt.timezone.utc)
        return int(t.timestamp()) * gen.US
    return us(match.group(1)), us(match.group(2))


# ---------------------------------------------------------------------------
# vector_index: one IVF-PQ build, then single-query probes


class VectorIndex(Workload):
    K = 10
    NPROBE = 8
    RERANK = 100
    BUILD = {"n_buckets": 32, "m": 8, "ks": 16, "sample": 2048, "iters": 8}
    WARM_VECTORS = 512
    min_ops = 5

    def prepare(self) -> None:
        from modelardb_rs_spark import Engine
        from modelardb_rs_spark.operators import ann_index

        self.ann = ann_index
        self.eng = Engine(self.spark, os.path.join(self.work, "vec"))
        corpus = self.files["corpus.parquet"]
        self.corpus_df = self.spark.read.parquet(corpus["path"])
        X = pq.read_table(corpus["path"])
        self.X = np.stack(_col(X, "embedding")).astype(np.float32)
        self.ids = _col(X, "vec_id")
        Q = pq.read_table(self.files["queries.parquet"]["path"])
        self.Q = np.stack(_col(Q, "embedding")).astype(np.float32)
        self.qids = _col(Q, "vec_id")
        self.truth = self.ids[brute_force_topk(self.X, self.Q, self.K)]
        self.recalls: list[float] = []
        # one checked, untimed build on a corpus prefix: the index path's
        # first-use cost (about 10 s on a 4-core host, more than a warm
        # build takes) stays out of the timed build
        warm = ann_index.build_ivfpq_index(self.eng, "warm_ivf", self.corpus_df.where(
            f"vec_id < {self.WARM_VECTORS}"), seed=self.seed, **self.BUILD)
        self.checker.op("build_warmup", [] if warm.get("n_vectors") == self.WARM_VECTORS else [
            f"n_vectors {warm.get('n_vectors')} != {self.WARM_VECTORS}"])
        stats = {}
        self.timed_write(lambda: stats.update(ann_index.build_ivfpq_index(
            self.eng, "vidx", self.corpus_df, seed=self.seed, **self.BUILD)), len(self.ids))
        self.build_s = self.write_s
        self.checker.op("build", [] if stats.get("n_vectors") == len(self.ids) else [
            f"n_vectors {stats.get('n_vectors')} != {len(self.ids)}"])
        # one checked, untimed probe: the probe path's first-use cost
        # stays out of the loop's samples
        _, run, check = self.op(len(self.qids) - 1)
        self.checker.op("probe_warmup", check(run()))

    def stored_bytes_ratio(self) -> float:
        tables = [t for t in self.eng.tables() if t.startswith("vidx")]
        return _live_bytes(self.eng, tables) / self.files["corpus.parquet"]["raw_bytes"]

    def op(self, i: int):
        q = i % len(self.qids)
        from pyspark.sql import types as T

        schema = T.StructType([T.StructField("vec_id", T.LongType()),
                               T.StructField("embedding", T.ArrayType(T.FloatType()))])

        def run():
            qdf = self.spark.createDataFrame([(int(self.qids[q]), self.Q[q].tolist())], schema)
            return self.ann.ivfpq_topk(self.eng, "vidx", qdf, k=self.K, nprobe=self.NPROBE,
                                       rerank=self.RERANK).toArrow()

        def check(out):
            r = recall_at_k(_col(out, "neighbor_id"), self.truth[q])
            self.recalls.append(r)
            return [] if r >= 0.5 else [f"recall@{self.K} {r:.2f} for query {q}"]
        return "probe", run, check

    def finish(self) -> None:
        if self.tracer:
            self.layers.update(vector_layers(self))


WORKLOADS = {"fleet_edge": FleetEdge, "vector_index": VectorIndex}


# ---------------------------------------------------------------------------
# per-layer metrics of the traced run


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _op_spans(wl) -> list[dict]:
    return [r for r in wl.tracer.spans if r["name"].startswith("op.") and "end" in r]


def by_class(lat: dict) -> dict[str, list[float]]:
    """Latencies per operation class (the name before the first dot)."""
    out: dict[str, list[float]] = defaultdict(list)
    for name, xs in lat.items():
        out[name.split(".")[0]] += xs
    return out


def common_layers(wl, session_start_s: float) -> dict:
    """Spark counters per operation of the traced loop, per-class latency
    of the untraced loop, and the tracing overhead."""
    tr = wl.tracer
    ops = _op_spans(wl)
    per_op = [tr.inclusive(r) for r in ops]
    out = {
        "spark.session_start_s": session_start_s,
        "trace.overhead_s": statistics.median(wl.traced_ops) - statistics.median(wl.untraced_ops),
    }
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = _mean(c[k] for c in per_op)
    for cls, xs in by_class(wl.lat).items():
        out[f"ops.{cls}_p50_s"] = pct(xs, 50)
        out[f"ops.{cls}_p90_s"] = pct(xs, 90)
    return out


def fleet_layers(wl: FleetEdge) -> dict:
    """Fitter, decoder, compress, segment-store and commit-log metrics."""
    from modelardb_rs_spark.compression.decode import decode_segments
    from modelardb_rs_spark.compression.fitter import fit_series
    from modelardb_rs_spark.types import GORILLA_ID, PMC_MEAN_ID, SWING_ID, ErrorBound

    tr, series = wl.tracer, wl.fleet
    out: dict[str, float] = {}
    # fitter: fit_series on the workload's own series, one thread
    by_model = defaultdict(int)
    pts = nbytes = 0
    fit_s = 0.0
    for tag in series.tags()[:4]:
        m = series.mask(tag=tag)
        for field, bound in series.bounds.items():
            eb = ErrorBound.absolute(bound[1]) if bound[0] == "abs" else ErrorBound.relative(100 * bound[1])
            t0 = time.perf_counter()
            cols = fit_series(series.ts[m], series.fields[field][m], eb)
            fit_s += time.perf_counter() - t0
            pts += int(m.sum())
            for mid, n in zip(cols["model_type_id"], cols["value_count"]):
                by_model[int(mid)] += int(n)
            nbytes += sum(len(a) + len(b) + len(c) + 16 for a, b, c in
                          zip(cols["timestamps"], cols["values"], cols["residuals"]))
    out["fitter.points_per_s"] = pts / fit_s
    for name, mid in zip(MODELS, (PMC_MEAN_ID, SWING_ID, GORILLA_ID)):
        out[f"fitter.model_share.{name}"] = by_model[mid] / pts
    out["fitter.bytes_per_point"] = nbytes / pts
    # decode: decode_segments on stored segments
    seg = wl.eng.segments("fleet").limit(4000).toPandas()
    t0 = time.perf_counter()
    decoded = decode_segments(seg, ["turbine"])
    out["decode.points_per_s"] = len(decoded) / (time.perf_counter() - t0)
    # compress and write path, per append
    tr.resolve_once(wl.since)
    writes = tr.named("engine.write")
    inc = [tr.inclusive(r) for r in writes]
    for k in COMPRESS_KEYS:
        out[f"compress.{k}"] = _mean(c[k] for c in inc)
    commits = tr.named("txlog.commit")
    out["datafolder.write_segments_s"] = _mean(duration(r) for r in tr.named("datafolder.write_segments"))
    out["datafolder.files_per_commit"] = _mean(r.get("files_added", 0) for r in commits)
    out["datafolder.bytes_written"] = _mean(r.get("bytes_added", 0) for r in commits)
    out["txlog.commit_s"] = _mean(duration(r) for r in commits)
    out["txlog.commit_retries"] = sum(max(r.get("builds", 1) - 1, 0) for r in commits)
    snaps = tr.named("txlog.snapshot")
    out["txlog.snapshot_s"] = _mean(duration(r) for r in snaps)
    ops = _op_spans(wl)
    op_ids = {r["id"] for r in ops}
    out["txlog.snapshots_per_op"] = sum(1 for r in snaps if _root(tr, r) in op_ids) / max(len(ops), 1)
    reads = [r for r in tr.named("datafolder.read_segments") if _root(tr, r) in op_ids]
    out["datafolder.read_segments_s"] = _mean(duration(r) for r in reads)
    n_reads = sum(1 for r in ops if r["name"] != "op.append")
    out["datafolder.files_scanned_per_query"] = sum(r.get("files_scanned", 0) for r in reads) / max(n_reads, 1)
    total = sum(c.get("files_total", 0) for r in reads for c in tr.spans
                if c["parent"] == r["id"] and c["name"] == "txlog.snapshot")
    out["datafolder.files_pruned_ratio"] = 1 - sum(r.get("files_scanned", 0) for r in reads) / total if total else 0.0
    out["parser.parse_s"] = _mean(duration(r) for r in tr.named("parser.parse_statement"))
    plans = [r for r in tr.named("engine.read_sql") if _root(tr, r) in op_ids]
    out["engine.plan_s"] = _mean(duration(r) for r in plans)
    out["engine.plan_jobs"] = _mean(tr.inclusive(r)["jobs"] for r in plans)
    return out


def _root(tr, rec) -> int:
    while rec["parent"] is not None:
        rec = tr.spans[rec["parent"]]
    return rec["id"]


_ANALYZE = re.compile(r"output_rows=(\d+), python_decoded_segments=(\d+), "
                      r"python_decoded_points=(\d+).*jvm_fast_points=(\d+)")


def query_layers(wl: FleetEdge) -> dict:
    """Aggregate-rewrite share and grid counters, from ``explain_path``."""
    out: dict[str, float] = {}
    stats_sql = [wl.sql_of(i) for i, k in enumerate(wl.PLAN) if k.startswith("s_")]
    pushed = [wl.eng.explain_path(s).startswith("segment-stats pushdown") for s in stats_sql]
    out["aggregates.pushdown_ratio"] = sum(pushed) / len(pushed)
    rows = segs = py_pts = jvm_pts = 0
    for i, k in enumerate(wl.PLAN):
        sql = wl.sql_of(i)
        if not k.startswith("g_") or sql is None:
            continue
        m = _ANALYZE.search(wl.eng.explain_path(sql, analyze=True))
        rows += int(m.group(1))
        segs += int(m.group(2))
        py_pts += int(m.group(3))
        jvm_pts += int(m.group(4))
    out.update({"grid.jvm_points": jvm_pts, "grid.python_points": py_pts,
                "grid.python_segments": segs,
                "grid.points_per_result_row": (jvm_pts + py_pts) / max(rows, 1)})
    return out


def live_layers(wl: FleetEdge) -> dict:
    """Flight overhead: a call's span minus the engine's own time."""
    tr = wl.tracer
    puts = tr.named("flight.do_put")
    over = []
    for p in puts:
        inner = [duration(c) for c in tr.spans if c["parent"] == p["id"] and c["name"] == "engine.write"]
        over.append(duration(p) - sum(inner))
    gets = [duration(r) for r in tr.named("flight.do_get")]
    local = []
    for sql in [wl.dashboard_sql] * 3:
        t0 = time.perf_counter()
        wl.eng.read_sql(sql).toArrow()
        local.append(time.perf_counter() - t0)
    return {"flight.put_overhead_s": _mean(over),
            "flight.get_overhead_s": statistics.median(gets) - statistics.median(local)}


def vector_layers(wl: VectorIndex) -> dict:
    tr = wl.tracer
    tr.resolve_once(wl.since)
    out: dict[str, float] = {"ann.recall_at_10": _mean(wl.recalls), "ann.build_s": wl.build_s,
                             "ann.buckets_probed": wl.NPROBE}
    build = tr.named("ann.build_ivfpq_index")[-1]  # the timed one, after the warm-up
    inc = tr.inclusive(build)
    out["ann.build_jobs"] = inc["jobs"]
    out["ann.build_executor_run_s"] = inc["executor_run_s"]
    # a corpus pass: a stage that reads at least one record per vector
    out["ann.corpus_passes"] = sum(1 for r in tr.spans if _root(tr, r) == build["id"]
                                   for s in r.get("self", {}).get("stage_list", [])
                                   if s["input_records"] >= len(wl.ids))
    out["ann.fit_s"] = sum(duration(r) for r in tr.named("similarity.kmeans_fit")
                           if _root(tr, r) == build["id"])
    out["pq.train_s"] = sum(duration(r) for r in tr.named("pq.train_codebooks")
                            if _root(tr, r) == build["id"])
    probes = [tr.inclusive(r) for r in _op_spans(wl)]
    out["ann.probe_jobs"] = _mean(c["jobs"] for c in probes)
    out["ann.rows_scored_per_query"] = _mean(c["input_records"] for c in probes)
    return out
