"""The benchmark's own tests: seeded inputs, answer checks and the metric
contract. They need no Spark session.

    python -m pytest perfbench/tests -q
"""

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.checks import (Checker, compare_points, compare_stats, recall_at_k,  # noqa: E402
                              truth_stats)
from perfbench.run import metrics_of  # noqa: E402
from perfbench.workloads import (COMPRESS_KEYS, END_TO_END, MODELS, SPARK_KEYS,  # noqa: E402
                                 WORKLOADS, FleetEdge, Series)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _read_all(manifest):
    out = {}
    for name, f in manifest["files"].items():
        with open(f["path"], "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(workload, tmp_path):
    a = _read_all(gen.write_inputs(workload, 7, str(tmp_path / "a")))
    b = _read_all(gen.write_inputs(workload, 7, str(tmp_path / "b")))
    c = _read_all(gen.write_inputs(workload, 8, str(tmp_path / "c")))
    assert a == b
    assert a.keys() == c.keys() and all(a[k] != c[k] for k in a)
    with open(tmp_path / "a" / "manifest.json", "rb") as fa, \
            open(tmp_path / "b" / "manifest.json", "rb") as fb:
        assert fa.read() == fb.read()


def test_fleet_values_do_not_depend_on_chunking():
    whole = gen.fleet(3, 4, 0, 200)
    part = gen.fleet(3, 4, 120, 80)
    assert whole.slice(120 * 4, 80 * 4).equals(part)


def test_manifest_records_points_and_bytes(tmp_path):
    m = gen.write_inputs("fleet_edge", 1, str(tmp_path))
    z = gen.SIZES["fleet_edge"]
    live = m["files"]["live.parquet"]
    assert live["points"] == 2 * z["turbines"] * z["batch_s"] * z["batches"]
    assert live["raw_bytes"] == gen.POINT_BYTES * live["points"]
    assert live["parquet_bytes"] == os.path.getsize(live["path"])


def test_answer_perturbed_past_its_bound_is_failed():
    v = gen.fleet(5, 2, 0, 600).column("temp").to_numpy()
    want = truth_stats(v, ("abs", 0.1))
    exact = {k: want[k][0] for k in ("count", "min", "max", "sum", "avg", "var_pop")}
    assert compare_stats("temp", exact, want) == []
    inside = {**exact, "min": exact["min"] + 0.09, "sum": exact["sum"] + 0.09 * len(v)}
    assert compare_stats("temp", inside, want) == []
    for agg, delta in (("count", 1), ("min", 0.11), ("max", -0.11),
                       ("sum", 0.11 * len(v)), ("avg", 0.11)):
        assert compare_stats("temp", {**exact, agg: exact[agg] + delta}, want), agg
    ck = Checker()
    ck.op("stats.s_all", compare_stats("temp", {**exact, "max": exact["max"] + 1}, want))
    ck.op("stats.s_all", [])
    assert (ck.total, ck.total_failed) == (2, 1)
    assert ck.by_op() == {"stats.s_all": "1/2"} and "stats.s_all" in ck.details[0]


def test_relative_bound_and_lossless_points():
    truth = np.array([100.0, 1000.0], np.float32)
    assert compare_points("p", truth * 1.009, truth, ("rel", 0.01)) == []
    assert compare_points("p", truth * np.array([1.0, 1.011]), truth, ("rel", 0.01))
    assert compare_points("v", truth, truth, None) == []
    assert compare_points("v", truth + np.float32(0.01), truth, None)
    assert compare_points("v", truth[:1], truth, None)


def test_workload_check_counts_a_perturbed_answer():
    """The fleet_edge scalar check, driven with a hand-made result table."""
    fq = FleetEdge.__new__(FleetEdge)
    series = Series(gen.fleet(2, 3, 0, 300), "turbine", gen.FLEET_BOUNDS)
    m = series.mask(tag="t01")
    check = fq._scalar_check(series, "power", ["count", "max"], m)
    want = series.stats("power", m)
    good = pa.table({"x_count": [want["count"][0]], "x_max": [want["max"][0]]})
    assert check(good) == []
    bound = 0.01 * float(series.fields["power"][m].max())
    bad = pa.table({"x_count": [want["count"][0]], "x_max": [want["max"][0] + 1.01 * bound]})
    assert check(bad)


class _ClosedWindowGapfill:
    """Stands in for ``Engine.gapfill`` on a gap-free walk: 1-minute
    averages of the points in [start, end], both ends included, as the
    engine's time window is."""

    def __init__(self, walk: Series) -> None:
        self.walk = walk
        self.hit_end = 0

    def gapfill(self, name, every, field, start, end, tags):
        w = self.walk
        a, b = (int(t.timestamp()) * gen.US for t in (start, end))
        m = (w.ts >= a) & (w.ts <= b) & (w.tag_values == tags["sensor"])
        self.hit_end += bool(np.any(w.ts[m] == b))
        keys = w.ts[m] - w.ts[m] % (60 * gen.US)
        uniq = np.unique(keys)
        avg = [float(w.fields["value"][m][keys == k].astype(np.float64).mean()) for k in uniq]
        out = pa.table({"bucket": pa.array(uniq, pa.timestamp("us", tz="UTC")), "value": avg})
        return type("Frame", (), {"toArrow": lambda self: out})()


def test_gapfill_check_counts_a_point_at_the_window_end():
    fe = FleetEdge.__new__(FleetEdge)
    fe.walk = Series(gen.walk(4, 1, 6000), "sensor", {"value": None})
    fe.sensors = fe.walk.tags()
    fe.eng = _ClosedWindowGapfill(fe.walk)
    for i in range(30):
        run, check = fe._gapfill(np.random.default_rng(i))
        out = run()
        assert check(out) == [], i
        dropped = out.slice(0, out.num_rows - 1)
        assert check(dropped), i
    assert fe.eng.hit_end > 0  # sensor s00 samples on whole seconds


def test_recall_against_brute_force():
    corpus, queries = gen.vectors(1, 500, 16, 4, 5)
    X = np.stack(corpus.column("embedding").to_numpy(zero_copy_only=False))
    Q = np.stack(queries.column("embedding").to_numpy(zero_copy_only=False))
    from perfbench.checks import brute_force_topk

    top = brute_force_topk(X, Q, 10)
    cos = (Q @ X.T) / np.outer(np.linalg.norm(Q, axis=1), np.linalg.norm(X, axis=1))
    assert np.allclose(np.take_along_axis(cos, top, 1)[:, 0], cos.max(axis=1))
    assert recall_at_k(top[0], top[0]) == 1.0
    assert recall_at_k(top[0][:5], top[0]) == 0.5


def test_every_metric_name_is_declared():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert tuple(e2e) == END_TO_END
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    # every metric-like literal the code can emit is declared
    src = open(os.path.join(ROOT, "perfbench", "workloads.py")).read()
    name = r"((?:spark|trace|fitter|decode|compress|datafolder|txlog|parser|engine|" \
           r"aggregates|grid|flight|ann|pq)\.[a-z0-9_.]+)"
    emitted = {a or b for a, b in re.findall(rf'out\["{name}"\]|"{name}":', src)}
    emitted |= {f"spark.{k}" for k in SPARK_KEYS} | {f"compress.{k}" for k in COMPRESS_KEYS}
    emitted |= {f"fitter.model_share.{m}" for m in MODELS}
    emitted |= {f"ops.{c}_{q}_s" for c in ("stats", "grid", "append", "dashboard", "probe")
                for q in ("p50", "p90")}
    assert emitted - set(layers) == set()
    # the printer refuses an undeclared name and fills every declared one
    assert set(metrics_of(e2e, dict.fromkeys(e2e, 1.0))) == set(e2e)
    with pytest.raises(SystemExit):
        metrics_of(e2e, {**dict.fromkeys(e2e, 1.0), "made_up_s": 1.0})
    with pytest.raises(SystemExit):
        metrics_of(e2e, {})


def test_benchmark_json_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [
        w["name"] for w in spec["workloads"]]
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert len({m["name"] for m in spec["end_to_end"] + spec["per_layer"]}) == \
        len(spec["end_to_end"]) + len(spec["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
