"""Answer checks against numpy truth.

Every operation the benchmark runs is checked. A lossy field's answer
must stay within what its declared error bound allows:

- counts match exactly;
- MIN/MAX, AVG and a single point (last point, value at a time) lie
  within the largest per-point bound of the points they cover;
- SUM lies within the sum of the per-point bounds (n * bound for an
  absolute bound);
- a population variance lies within 2*sigma*e + e^2 of the truth, the
  most a per-point error of at most e can move it.

Lossless fields get a bound of zero. Float rounding adds a small slack
(``_SLACK`` times the magnitude involved), never more.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np

_SLACK = 1e-6


def point_bounds(values: np.ndarray, bound: tuple[str, float] | None) -> np.ndarray:
    """Per-point error bound of a field: ``("abs", e)``, ``("rel", r)`` or
    ``None`` (lossless)."""
    v = np.asarray(values, dtype=np.float64)
    if bound is None:
        return np.zeros_like(v)
    kind, e = bound
    return np.full_like(v, e) if kind == "abs" else np.abs(v) * e


def truth_stats(values: np.ndarray, bound: tuple[str, float] | None) -> dict:
    """Exact aggregates of ``values`` plus the tolerance each may be off by."""
    v = np.asarray(values, dtype=np.float32).astype(np.float64)
    e = point_bounds(v, bound)
    emax = float(e.max()) if len(e) else 0.0
    mag = float(np.abs(v).max()) if len(v) else 0.0
    std = float(v.std()) if len(v) else 0.0
    return {
        "count": (len(v), 0.0),
        "min": (float(v.min()), emax + _SLACK * mag),
        "max": (float(v.max()), emax + _SLACK * mag),
        "sum": (float(v.sum()), float(e.sum()) + _SLACK * float(np.abs(v).sum())),
        "avg": (float(v.mean()), emax + _SLACK * mag),
        "var_pop": (float(v.var()), 2 * std * emax + emax * emax + _SLACK * (mag * mag)),
    }


class Checker:
    """Collects check outcomes per operation name. A failed check is
    recorded with its detail; nothing is dropped."""

    def __init__(self) -> None:
        self.attempted: dict[str, int] = defaultdict(int)
        self.failed: dict[str, int] = defaultdict(int)
        self.details: list[str] = []

    def op(self, name: str, problems: list[str]) -> bool:
        """Record one operation with the list of its check failures."""
        self.attempted[name] += 1
        if problems:
            self.failed[name] += 1
            if len(self.details) < 50:
                self.details.append(f"{name}: " + "; ".join(problems[:5]))
        return not problems

    def error(self, name: str, exc: BaseException) -> None:
        self.op(name, [f"{type(exc).__name__}: {exc}"])

    @property
    def total(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return sum(self.failed.values())

    def by_op(self) -> dict[str, str]:
        return {k: f"{self.failed.get(k, 0)}/{n}" for k, n in sorted(self.attempted.items())}


def compare(label: str, got, want: tuple[float, float]) -> list[str]:
    """One scalar against ``(truth, tolerance)``; returns problems."""
    truth, tol = want
    if got is None or (isinstance(got, float) and math.isnan(got)):
        return [f"{label}: got {got}, want {truth}"]
    if abs(float(got) - truth) > tol:
        return [f"{label}: got {got!r}, want {truth!r} +- {tol:.6g}"]
    return []


def compare_stats(prefix: str, got: dict, want: dict) -> list[str]:
    """Every aggregate in ``got`` against ``truth_stats`` output."""
    problems: list[str] = []
    for agg, value in got.items():
        problems += compare(f"{prefix}.{agg}", value, want[agg])
    return problems


def compare_points(prefix: str, got: np.ndarray, truth: np.ndarray,
                   bound: tuple[str, float] | None) -> list[str]:
    """Reconstructed points against their true values, element-wise."""
    got = np.asarray(got, dtype=np.float64)
    truth = np.asarray(truth, dtype=np.float32).astype(np.float64)
    if got.shape != truth.shape:
        return [f"{prefix}: {got.shape[0]} points, want {truth.shape[0]}"]
    tol = point_bounds(truth, bound) + _SLACK * np.abs(truth) + 1e-9
    bad = np.flatnonzero(np.abs(got - truth) > tol)
    if len(bad):
        i = bad[0]
        return [f"{prefix}: {len(bad)} points outside the bound, first got {got[i]!r} "
                f"want {truth[i]!r} +- {tol[i]:.6g}"]
    return []


def recall_at_k(got_ids, truth_ids) -> float:
    truth = set(int(i) for i in truth_ids)
    return len(truth & set(int(i) for i in got_ids)) / max(len(truth), 1)


def brute_force_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k ids (row indices) per query."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn.astype(np.float64) @ cn.T.astype(np.float64)
    top = np.argpartition(-sims, k, axis=1)[:, :k]
    order = np.argsort(-np.take_along_axis(sims, top, axis=1), axis=1)
    return np.take_along_axis(top, order, axis=1)
