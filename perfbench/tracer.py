"""Span tracer for the traced run.

It wraps the engine's public entry points from outside the package (the
boundary list in ``boundaries()``), records one span per call (name,
start, end, parent span), and tags the Spark jobs each span launches
with its own job group, so that Spark status-store counters land on the
innermost open span. Spans stay in memory; ``resolve`` reads the status
store once, when the run ends.

The closed loop runs one operation at a time, so one process-wide stack
of open spans gives each span its parent, including spans opened on the
Flight server's thread while a client call is open. Job groups are
thread-local in Spark, so each thread restores its own previous group
when a span closes.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = False
        self._open: list[int] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._resolved = False

    # -- spans ----------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._open[-1] if self._open else None, **attrs}
        self.spans.append(rec)
        prev = getattr(self._local, "group", None)
        self._set_group(f"{GROUP_PREFIX}{sid}")
        self._open.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.remove(sid)
            self._set_group(prev)

    def _set_group(self, group: str | None) -> None:
        self._local.group = group
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    # -- wrapping the entry points ----------------------------------------

    def wrap(self, owner, attr: str, name: str, call=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``call(rec,
        orig, args, kwargs)``, when given, makes the call and may add
        attributes to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                return call(rec, orig, args, kwargs) if call else orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        for owner, attr, name, call in boundaries():
            self.wrap(owner, attr, name, call)
        self.enabled = True

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- status store ------------------------------------------------------

    def job_ids(self) -> set[int]:
        store = self.sc._jsc.sc().statusStore()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        return {int(j.jobId()) for j in conv.asJava(store.jobsList(None))}

    def resolve(self, since: set[int]) -> None:
        """Attach Spark counters to spans for every job not in ``since``."""
        sc = self.sc
        store = sc._jsc.sc().statusStore()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        stages = {}
        empty = sc._gateway.new_array(sc._jvm.double, 0)
        for s in conv.asJava(store.stageList(None, False, False, empty, sc._jvm.java.util.ArrayList())):
            if s.status().toString() == "SKIPPED":
                continue
            stages[int(s.stageId())] = {
                "stages": 1, "tasks": int(s.numTasks()),
                "executor_run_s": s.executorRunTime() / 1000.0,
                "input_bytes": int(s.inputBytes()), "input_records": int(s.inputRecords()),
                "shuffle_bytes": int(s.shuffleReadBytes()) + int(s.shuffleWriteBytes()),
            }
        for rec in self.spans:
            rec["self"] = _zero()
        for j in conv.asJava(store.jobsList(None)):
            jid = int(j.jobId())
            if jid in since:
                continue
            c = _zero()
            c["jobs"] = 1
            c["stage_list"] = []
            for sid in conv.asJava(j.stageIds()):
                st = stages.get(int(sid))
                if st:
                    _add(c, st)
                    c["stage_list"].append(st)
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            if group and group.startswith(GROUP_PREFIX):
                rec = self.spans[int(group[len(GROUP_PREFIX):])]
                _add(rec["self"], c)
                rec["self"].setdefault("stage_list", []).extend(c["stage_list"])

    def resolve_once(self, since: set[int]) -> None:
        if not self._resolved:
            self.resolve(since)
            self._resolved = True

    def inclusive(self, rec: dict) -> dict:
        """A span's counters plus those of all its descendants."""
        children: dict[int, list[int]] = {}
        for r in self.spans:
            if r["parent"] is not None:
                children.setdefault(r["parent"], []).append(r["id"])
        out = _zero()
        todo = [rec["id"]]
        while todo:
            sid = todo.pop()
            _add(out, self.spans[sid].get("self", _zero()))
            todo.extend(children.get(sid, []))
        return out

    def named(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name and "end" in r]


_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "input_bytes",
             "input_records", "shuffle_bytes")


def _zero() -> dict:
    return dict.fromkeys(_COUNTERS, 0)


def _add(into: dict, c: dict) -> None:
    for k in _COUNTERS:
        into[k] = into.get(k, 0) + c.get(k, 0)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


# -- the boundary list -------------------------------------------------------


def _read_segments_call(rec, orig, args, kwargs):
    want_info = kwargs.pop("with_info", False)
    df, info = orig(*args, with_info=True, **kwargs)
    rec["files_scanned"] = info["n_files"]
    return (df, info) if want_info else df


def _commit_call(rec, orig, args, kwargs):
    self_, build, *rest = args
    rec["builds"] = 0

    def counted(snap):
        out = build(snap)
        rec["builds"] += 1
        rec["files_added"] = len(out[1])
        rec["bytes_added"] = sum(int(e.get("size") or 0) for e in out[1])
        return out

    return orig(self_, counted, *rest, **kwargs)


def _snapshot_call(rec, orig, args, kwargs):
    out = orig(*args, **kwargs)
    rec["files_total"] = len(out.files)
    return out


def boundaries():
    """(owner, attribute, span name, call) for every wrapped entry
    point: the engine API, the segment store, the commit log, the
    statement parser, the Flight client and the vector-index builders and
    probes."""
    from modelardb_rs_spark import engine as engine_mod
    from modelardb_rs_spark.engine import Engine
    from modelardb_rs_spark.flight import ModelarFlightClient
    from modelardb_rs_spark.operators import ann_index, pq
    from modelardb_rs_spark.sources.datafolder import DataFolder
    from modelardb_rs_spark.sources.txlog import TransactionLog

    out = [(Engine, m, f"engine.{m}", None)
           for m in ("read_sql", "write", "table", "last_points", "value_at", "gapfill")]
    out += [
        (DataFolder, "write_segments", "datafolder.write_segments", None),
        (DataFolder, "read_segments", "datafolder.read_segments", _read_segments_call),
        (TransactionLog, "commit", "txlog.commit", _commit_call),
        (TransactionLog, "snapshot", "txlog.snapshot", _snapshot_call),
        (engine_mod, "parse_statement", "parser.parse_statement", None),
        (ModelarFlightClient, "write", "flight.do_put", None),
        (ModelarFlightClient, "read", "flight.do_get", None),
        (ann_index, "build_ivfpq_index", "ann.build_ivfpq_index", None),
        (ann_index, "ivfpq_topk", "ann.ivfpq_topk", None),
        (ann_index, "numpy_kmeans_buckets", "similarity.kmeans_fit", None),
        (pq, "train_pq_codebooks", "pq.train_codebooks", None),
    ]
    return out
