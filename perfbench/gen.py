"""Seeded input generator for the benchmark.

Every value is a pure function of ``(seed, series, time index)``, so the
same seed gives byte-identical Parquet inputs however the data is cut
into appends, and the numpy truth the checks use is the same data the
engine is given.

Three kinds of input:

- the turbine fleet: regularly sampled (1 s) series with a smooth signal
  plus noise, one ``turbine`` tag and two fields (``temp``, ``power``);
- the irregular walk: a lossless random walk per sensor with random
  1-5 s gaps between samples;
- clustered vectors with planted near-duplicates, plus probe queries.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z in microseconds
T0_US = 1_704_067_200_000_000
US = 1_000_000
POINT_BYTES = 12  # one (8-byte timestamp, 4-byte float32 value) point

# Table definitions the engine is given; bounds are the ones the checks use.
FLEET_DDL = (
    "CREATE TIME SERIES TABLE {name}(timestamp TIMESTAMP, temp FIELD(0.1), "
    "power FIELD(1.0%), turbine TAG)"
)
WALK_DDL = "CREATE TIME SERIES TABLE {name}(timestamp TIMESTAMP, value FIELD, sensor TAG)"
FLEET_BOUNDS = {"temp": ("abs", 0.1), "power": ("rel", 0.01)}

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 arrays (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
        return x ^ (x >> np.uint64(31))


def _uniform(seed: int, series: int, idx: np.ndarray, stream: int) -> np.ndarray:
    """Counter-based uniforms in (0, 1): one value per (seed, series,
    index, stream), independent of how the index range is chunked."""
    key = _splitmix(np.array([seed * 1_000_003 + series * 7919 + stream * 104_729],
                             dtype=np.uint64))[0]
    with np.errstate(over="ignore"):
        u = _splitmix(idx.astype(np.uint64) ^ key)
    return ((u >> np.uint64(11)).astype(np.float64) + 0.5) / float(1 << 53)


def _normal(seed: int, series: int, idx: np.ndarray, stream: int) -> np.ndarray:
    u1 = _uniform(seed, series, idx, 2 * stream)
    u2 = _uniform(seed, series, idx, 2 * stream + 1)
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)


def _series_params(seed: int, series: int) -> np.random.Generator:
    return np.random.default_rng([seed, series, 0xF1EE7])


def fleet(seed: int, n_series: int, start_s: int, n_s: int) -> pa.Table:
    """Fleet rows for seconds [start_s, start_s + n_s), ordered by time
    then turbine, so any contiguous slice of seconds is a whole-fleet
    batch."""
    t = np.arange(start_s, start_s + n_s, dtype=np.int64)
    temp = np.empty((n_s, n_series), np.float32)
    power = np.empty((n_s, n_series), np.float32)
    for s in range(n_series):
        p = _series_params(seed, s)
        base, amp, period, phase = p.uniform(12, 22), p.uniform(2, 6), p.uniform(1800, 7200), p.uniform(0, 6.3)
        temp[:, s] = base + amp * np.sin(2 * np.pi * t / period + phase) + 0.02 * _normal(seed, s, t, 0)
        pbase, pamp, pperiod = p.uniform(800, 1200), p.uniform(200, 400), p.uniform(600, 3600)
        power[:, s] = pbase + pamp * np.sin(2 * np.pi * t / pperiod + phase) + 2.0 * _normal(seed, s, t, 1)
    ts = np.repeat(T0_US + t * US, n_series)
    tags = np.tile(np.array([f"t{s:02d}" for s in range(n_series)], dtype=object), n_s)
    return pa.table({
        "timestamp": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "temp": pa.array(temp.ravel(), pa.float32()),
        "power": pa.array(power.ravel(), pa.float32()),
        "turbine": pa.array(tags, pa.string()),
    })


def walk(seed: int, n_series: int, n_points: int) -> pa.Table:
    """Irregular lossless random walks: per sensor, 1-5 s gaps drawn per
    sample and 0.01-quantised steps."""
    parts = []
    for s in range(n_series):
        i = np.arange(n_points, dtype=np.int64)
        gaps = 1 + np.floor(_uniform(seed, 1000 + s, i, 0) * 5).astype(np.int64)
        ts = T0_US + np.cumsum(gaps) * US + (s * 997) % US
        steps = np.round(_normal(seed, 1000 + s, i, 1) * 25) / 100.0
        values = (50.0 + np.cumsum(steps)).astype(np.float32)
        parts.append(pa.table({
            "timestamp": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "value": pa.array(values, pa.float32()),
            "sensor": pa.array(np.full(n_points, f"s{s:02d}", dtype=object), pa.string()),
        }))
    return pa.concat_tables(parts)


def vectors(seed: int, n: int, dim: int, n_clusters: int, n_queries: int,
            dup_share: float = 0.02) -> tuple[pa.Table, pa.Table]:
    """Clustered vectors with planted near-duplicates, and queries drawn
    as perturbed corpus vectors (ids disjoint from the corpus). Within a
    cluster, vectors vary mostly along a few latent directions, as real
    embeddings do, so each query has well-separated nearest neighbours."""
    rng = np.random.default_rng([seed, 0xE3B])
    centers = rng.normal(size=(n_clusters, dim))
    labels = rng.permutation(np.arange(n) % n_clusters)  # equal-sized clusters
    latent = rng.normal(size=(8, dim)) * 0.5
    X = centers[labels] + rng.normal(size=(n, 8)) @ latent + 0.05 * rng.normal(size=(n, dim))
    n_dup = int(n * dup_share)
    src = rng.integers(0, n - n_dup, n_dup)
    X[n - n_dup:] = X[src] + 0.01 * rng.normal(size=(n_dup, dim))
    qsrc = rng.integers(0, n, n_queries)
    Q = X[qsrc] + 0.05 * rng.normal(size=(n_queries, dim))
    X, Q = X.astype(np.float32), Q.astype(np.float32)

    def table(ids, M):
        return pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(M.ravel(), pa.float32()), dim).cast(pa.list_(pa.float32())),
        })

    return table(np.arange(n, dtype=np.int64), X), table(
        np.arange(n_queries, dtype=np.int64) + 10_000_000, Q)


# Input sizes per workload. Chosen so one run of the slowest workload,
# with Spark start-up and set-up, stays well under a minute on 4 cores.
SIZES = {
    "fleet_edge": {"turbines": 24, "appends": 1, "append_s": 4800, "walk_sensors": 8,
                   "walk_points": 15_000, "batch_s": 60, "batches": 120},
    "vector_index": {"n": 8_000, "dim": 64, "clusters": 32, "queries": 64},
    "warmup": {"turbines": 24, "seconds": 30},
}


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="zstd")
    return os.path.getsize(path)


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's Parquet inputs under ``out_dir`` and return a
    manifest: file names, points (or vectors) and bytes per input. The
    manifest is also written as ``manifest.json``."""
    os.makedirs(out_dir, exist_ok=True)
    files: dict[str, dict] = {}

    def add(name: str, table: pa.Table, points: int, raw_bytes: int) -> None:
        path = os.path.join(out_dir, name)
        files[name] = {"path": path, "rows": table.num_rows, "points": points,
                       "raw_bytes": raw_bytes, "parquet_bytes": _write(table, path)}

    w = SIZES["warmup"]
    t = fleet(seed + 1, w["turbines"], 0, w["seconds"])
    add("warmup.parquet", t, 2 * t.num_rows, 2 * t.num_rows * POINT_BYTES)
    z = SIZES.get(workload)
    if workload == "fleet_edge":
        for a in range(z["appends"]):
            t = fleet(seed, z["turbines"], a * z["append_s"], z["append_s"])
            add(f"history-{a}.parquet", t, 2 * t.num_rows, 2 * t.num_rows * POINT_BYTES)
        t = walk(seed, z["walk_sensors"], z["walk_points"])
        add("walk.parquet", t, t.num_rows, t.num_rows * POINT_BYTES)
        t = fleet(seed, z["turbines"], z["appends"] * z["append_s"], z["batch_s"] * z["batches"])
        add("live.parquet", t, 2 * t.num_rows, 2 * t.num_rows * POINT_BYTES)
    elif workload == "vector_index":
        corpus, queries = vectors(seed, z["n"], z["dim"], z["clusters"], z["queries"])
        add("corpus.parquet", corpus, z["n"], z["n"] * (8 + 4 * z["dim"]))
        add("queries.parquet", queries, z["queries"], z["queries"] * (8 + 4 * z["dim"]))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    manifest = {"workload": workload, "seed": seed, "sizes": z, "files": files}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({**manifest, "files": {k: {kk: vv for kk, vv in v.items() if kk != "path"}
                                         for k, v in files.items()}}, f, indent=1, sort_keys=True)
    return manifest
