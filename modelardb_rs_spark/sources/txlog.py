"""Per-table JSON transaction log — ACID commits over Parquet files.

The container ships no Delta jars, so this implements the same commit
protocol Delta Lake uses on HDFS (reference tables are Delta:
crates/modelardb_storage/src/data_folder/mod.rs:89-260, :582-686):

- data files are staged under a unique ``txn=<uuid>/`` directory per
  write — concurrent writers can never touch each other's files, and a
  crashed write leaves only an orphaned directory no commit references,
- a commit is ONE atomically-created JSON file ``_txn/<version>.json``
  (``FileSystem.create(overwrite=false)`` = putIfAbsent). Losers of a
  version race re-read the log and retry against the fresh snapshot —
  optimistic concurrency, no locks,
- readers replay the log to a snapshot: the live file set at a version
  (or at a wall-clock timestamp → time travel),
- TRUNCATE is a commit that removes every live file (the data stays on
  disk for time travel until vacuum),
- VACUUM physically deletes files whose remove-commit is older than the
  retention window, plus staged directories no commit ever referenced,
- every ``_CHECKPOINT_INTERVAL``-th commit materializes the live set as
  ``<version>.checkpoint.json``; snapshots replay from the newest
  checkpoint at-or-before the target, and VACUUM drops log entries
  superseded by an out-of-retention checkpoint — both log size and
  snapshot cost stay bounded no matter how many commits a table has.

Commit schema::

    {"version": N, "op": "append"|"truncate", "timestamp_ms": ...,
     "add": [{"path": "txn=../field_column=0/part-...parquet", "size": S}],
     "remove": ["relative/path", ...]}

Segment add-entries (time series tables, ``DataFolder._stage_and_commit``)
also carry ``field_column``, ``min_start_time``/``max_end_time``,
``all_fast``, ``fast_points``/``total_points`` and, for files statted on
the driver, ``series``: one row per series (tag tuple) of the file,
``[[tag values], value_count, seg_sum, seg_sum_sq, min_value,
max_value, min start_time, max end_time, disjoint]``
(``operators/aggregates.series_rows``). A file with more series than
``datafolder._SERIES_ROWS_MAX``, NULL stats, or from a commit of more
than ``datafolder._DRIVER_STATS_MAX_FILES`` files has no ``series`` key;
readers then take the paths that open the files.

Paths are relative to the table's data directory so a table (or the
whole folder) can be copied/moved wholesale.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from modelardb_rs_spark.sources.hadoopfs import HadoopFS, is_create_temp

_LOG_DIR = "_txn"
_MAX_COMMIT_ATTEMPTS = 100
# Every Nth commit also writes ``<version>.checkpoint.json`` holding the
# full live file set, so snapshots replay at most N-1 commits past a
# checkpoint instead of the whole history (Delta writes Parquet
# checkpoints every 10 commits for the same reason).
_CHECKPOINT_INTERVAL = 16

# Unreferenced txn= staging younger than this is presumed an IN-FLIGHT
# write, not a crashed one — vacuum never sweeps it, no matter how
# aggressive the data-retention horizon (see TransactionLog.vacuum).
_STAGING_ORPHAN_GRACE_SECONDS = 600.0


@dataclass
class Snapshot:
    version: int  # -1 for an empty log
    files: list[dict] = field(default_factory=list)  # live add-entries
    # latest applied application-transaction version per appId — the
    # Delta SetTransaction analog (PROTOCOL.md "Transaction Identifiers").
    # Streaming sinks record (appId, epoch) ATOMICALLY with their append
    # and gate replays on it, which is the only airtight idempotency
    # marker: probing the data itself is foiled by id reuse, and a
    # separate marker table is a second non-atomic commit.
    txns: dict[str, int] = field(default_factory=dict)
    # latest application metadata payload committed WITH data (the Delta
    # metaData-action analog): an opaque JSON dict a commit may carry so
    # derived state that must flip atomically with the files (e.g. an
    # ANN index's coarse-quantizer centroids) lives in the SAME commit —
    # readers resolving one snapshot get files + meta consistent by
    # construction, with no second-table commit window. None until some
    # commit sets one; later commits without meta inherit the latest.
    meta: dict | None = None

    @property
    def paths(self) -> list[str]:
        return [f["path"] for f in self.files]


class TransactionLog:
    def __init__(self, fs: HadoopFS, table_uri: str) -> None:
        self.fs = fs
        self.table_uri = table_uri.rstrip("/")
        self.log_uri = fs.join(self.table_uri, _LOG_DIR)
        # Commit/checkpoint files are immutable once created
        # (create-exclusive = putIfAbsent), so their parsed content can
        # be cached for the life of this log handle: repeated snapshots
        # (every query plans one) cost a single directory listing, not
        # O(commits) JSON reads. Entries are VALIDATED against the
        # (size, mtime) the listing reports, so a table dropped and
        # recreated at the same path (same version numbers, new bytes)
        # never serves stale content. Bounded: vacuum keeps the log
        # itself bounded, and the cap below guards pathological
        # histories.
        self._json_cache: dict[str, tuple[tuple[int, int], dict]] = {}

    _JSON_CACHE_MAX = 65536

    @property
    def mirror_healthy(self) -> bool:
        """False once the Delta mirror disabled itself (an unmirrorable
        commit that a checkpoint bootstrap could not fix): this table's
        JSON log stays authoritative and every engine query is
        unaffected, but STOCK Delta readers stop seeing commits newer
        than the last mirrored version. Surfaced so operators notice
        instead of silently reading stale data downstream."""
        return not getattr(self, "_mirror_disabled", False)

    def _read_json_validated(self, uri: str, stamp: tuple[int, int]) -> dict:
        hit = self._json_cache.get(uri)
        if hit is not None and hit[0] == stamp:
            return hit[1]
        doc = json.loads(self.fs.read_bytes(uri).decode("utf-8"))
        if len(self._json_cache) >= self._JSON_CACHE_MAX:
            self._json_cache.clear()
        self._json_cache[uri] = (stamp, doc)
        return doc

    # ----------------------------------------------------------- reading

    def _commit_uri(self, version: int) -> str:
        return self.fs.join(self.log_uri, f"{version:020d}.json")

    def _checkpoint_uri(self, version: int) -> str:
        return self.fs.join(self.log_uri, f"{version:020d}.checkpoint.json")

    def _list_log(self) -> tuple[dict[int, tuple[int, int]], dict[int, tuple[int, int]]]:
        """One directory listing → ({commit version: (size, mtime)},
        {checkpoint version: (size, mtime)}). No JSON is read; the
        stamps validate the content cache."""
        commits: dict[int, tuple[int, int]] = {}
        checkpoints: dict[int, tuple[int, int]] = {}
        for info in self.fs.list(self.log_uri):
            name = info.path.rsplit("/", 1)[-1]
            stamp = (info.size, info.mtime_ms)
            if name.endswith(".checkpoint.json"):
                try:
                    checkpoints[int(name[: -len(".checkpoint.json")])] = stamp
                except ValueError:
                    continue
            elif name.endswith(".json"):
                try:
                    commits[int(name[: -len(".json")])] = stamp
                except ValueError:
                    continue
        return commits, checkpoints

    def versions(self) -> list[int]:
        return sorted(self._list_log()[0])

    def read_commit(self, version: int) -> dict:
        """Uncached single-commit read (public/maintenance path)."""
        return json.loads(self.fs.read_bytes(self._commit_uri(version)).decode("utf-8"))

    def read_checkpoint(self, version: int) -> dict:
        """Uncached single-checkpoint read (public/maintenance path)."""
        return json.loads(
            self.fs.read_bytes(self._checkpoint_uri(version)).decode("utf-8")
        )

    def commits(self) -> list[dict]:
        return [self.read_commit(v) for v in self.versions()]

    @staticmethod
    def _apply(live: dict[str, dict], commit: dict, txns: dict[str, int] | None = None) -> None:
        for entry in commit.get("add", []):
            live[entry["path"]] = entry
        for path in commit.get("remove", []):
            live.pop(path, None)
        t = commit.get("txn")
        if t and txns is not None:
            prev = txns.get(t["appId"])
            if prev is None or t["version"] > prev:
                txns[t["appId"]] = t["version"]

    def snapshot(
        self, version: int | None = None, timestamp_ms: int | None = None
    ) -> Snapshot:
        """Resolve the live file set at `version` (inclusive), at the
        last commit at-or-before `timestamp_ms`, or at the latest commit.

        Replays from the newest checkpoint at-or-before the target
        instead of from version 0: O(commits since last checkpoint) JSON
        reads, not O(all commits) — the difference between a constant
        and an unbounded cost on a long-lived table.
        """
        commits, checkpoints = self._list_log()
        commit_vs = sorted(commits)
        cp_vs = sorted(checkpoints)
        if timestamp_ms is not None:
            # target = the greatest version whose commit is at-or-before
            # the requested instant (Delta's time-travel rule)
            target = -1
            for v in commit_vs:
                doc = self._read_json_validated(self._commit_uri(v), commits[v])
                if doc["timestamp_ms"] <= timestamp_ms:
                    target = max(target, v)
            if target == -1:
                return Snapshot(version=-1)
            version = target
        if version is not None:
            if version not in commits and version not in checkpoints:
                raise ValueError(
                    f"version {version} does not exist for {self.table_uri} "
                    f"(have {commit_vs})"
                )
        else:
            version = max(commit_vs + cp_vs, default=-1)
        base = max((cv for cv in cp_vs if cv <= version), default=None)
        live: dict[str, dict] = {}
        txns: dict[str, int] = {}
        meta: dict | None = None
        v = -1
        if base is not None:
            cp = self._read_json_validated(self._checkpoint_uri(base), checkpoints[base])
            live = {entry["path"]: entry for entry in cp["files"]}
            txns = dict(cp.get("txns", {}))
            meta = cp.get("meta")
            v = cp["version"]
        for cv in commit_vs:
            if cv <= (base if base is not None else -1) or cv > version:
                continue
            doc = self._read_json_validated(self._commit_uri(cv), commits[cv])
            self._apply(live, doc, txns)
            if doc.get("meta") is not None:
                meta = doc["meta"]
            v = cv
        return Snapshot(version=v, files=list(live.values()), txns=txns, meta=meta)

    # ---------------------------------------------------------- writing

    def commit(self, build, txn: tuple[str, int] | None = None) -> int | None:
        """Atomically append a commit. `build(snapshot) -> (op, add,
        remove)` is re-evaluated against a fresh snapshot on every
        version-race retry, so remove-sets never reference stale state.

        ``txn=(app_id, app_version)`` records an application transaction
        identifier IN the commit (Delta's SetTransaction action,
        PROTOCOL.md "Transaction Identifiers"): if the snapshot already
        shows ``app_id`` at ``app_version`` or newer, the commit is
        SKIPPED and None is returned — the one-atomic-unit idempotency
        gate at-least-once streaming replays need. The check re-runs
        against the fresh snapshot on every version-race retry, so two
        racing replays of the same epoch commit exactly once.

        ``build`` may return a 4-tuple ``(op, add, remove, meta)`` to
        attach an application metadata payload (JSON dict) to the SAME
        commit — the Delta metaData-action analog. Snapshots expose the
        latest committed meta (``Snapshot.meta``); derived state that
        must stay consistent with the files (e.g. ANN centroids) rides
        here so the flip is one atomic unit, not two commits."""
        for _ in range(_MAX_COMMIT_ATTEMPTS):
            snap = self.snapshot()
            if txn is not None:
                prev = snap.txns.get(txn[0])
                if prev is not None and prev >= txn[1]:
                    return None  # already applied: replay no-op
            built = build(snap)
            if len(built) == 4:
                op, add, remove, meta = built
            else:
                op, add, remove = built
                meta = None
            version = snap.version + 1
            doc = {
                "version": version,
                "op": op,
                "timestamp_ms": int(time.time() * 1000),
                "add": add,
                "remove": remove,
            }
            if meta is not None:
                doc["meta"] = meta
            if txn is not None:
                doc["txn"] = {"appId": txn[0], "version": int(txn[1])}
            payload = json.dumps(doc, separators=(",", ":")).encode("utf-8")
            if snap.version == -1:
                self.fs.mkdirs(self.log_uri)
            if self.fs.create_exclusive(self._commit_uri(version), payload):
                if version > 0 and version % _CHECKPOINT_INTERVAL == 0:
                    self._write_checkpoint(snap, doc)
                self._mirror_delta_log(version, doc)
                return version
        raise RuntimeError(
            f"could not commit to {self.table_uri} after {_MAX_COMMIT_ATTEMPTS} attempts"
        )

    # --------------------------------------------------- Delta mirroring

    # Stock-Delta interop: every commit is also mirrored as a real
    # `_delta_log/<version>.json` per the PUBLIC Delta transaction-log
    # spec (github.com/delta-io/delta PROTOCOL.md), so external engines
    # with a Delta reader (delta-rs / deltalake / DuckDB delta_scan /
    # Spark+jars) can open the LIVE table — reading the same segment
    # Parquet the reference's native-Delta tables expose
    # (crates/modelardb_storage/src/data_folder/mod.rs:89-260). The
    # mirror is write-only and best-effort: OUR read path replays only
    # `_txn/`, a crashed mirror write is healed on the next commit
    # (every missing version is backfilled from the authoritative _txn
    # docs — Delta readers require contiguous versions), and mirror
    # failures never fail the commit.

    _PA_TO_SPARK = {
        "int8": "byte", "int16": "short", "int32": "integer", "int64": "long",
        "float": "float", "double": "double", "bool": "boolean",
        "string": "string", "large_string": "string",
        "binary": "binary", "large_binary": "binary",
    }

    def _delta_log_dir(self) -> str:
        return self.fs.join(self.table_uri, "_delta_log")

    def _delta_schema(self, add_entries: list[dict]) -> tuple[str, list[str]] | None:
        """(schemaString, partitionColumns) derived from one committed
        Parquet footer + the staged path layout; None until a commit
        with data files exists."""
        for entry in add_entries:
            rel = entry["path"]
            parts = [seg.partition("=")[0] for seg in rel.split("/")[:-1] if "=" in seg]
            uri = self.fs.join(self.table_uri, rel)
            try:
                import pyarrow.parquet as pq
                from urllib.parse import urlparse

                if uri.startswith("file:"):
                    md = pq.read_schema(urlparse(uri).path)
                else:
                    f = self.fs.open_seekable(uri, entry.get("size", 0))
                    try:
                        md = pq.read_schema(f)
                    finally:
                        f.close()
            except Exception:
                continue
            fields = []
            for fld in md:
                t = str(fld.type)
                if t.startswith("timestamp"):
                    spark_t = "timestamp"
                else:
                    spark_t = self._PA_TO_SPARK.get(t)
                if spark_t is None:
                    return None  # unmappable type: skip mirroring
                fields.append(
                    {"name": fld.name, "type": spark_t, "nullable": True, "metadata": {}}
                )
            for pc in parts:
                spark_t = "integer" if pc == "field_column" else "string"
                fields.append(
                    {"name": pc, "type": spark_t, "nullable": True, "metadata": {}}
                )
            schema = json.dumps(
                {"type": "struct", "fields": fields}, separators=(",", ":")
            )
            return schema, parts
        return None

    def _cached_schema_info(self, up_to_version: int, doc_of) -> tuple | None:
        """(schemaString, partitionColumns), derived once from the first
        commit carrying data files and cached on the handle."""
        schema_info = getattr(self, "_delta_schema_cache", None)
        if schema_info is not None:
            return schema_info
        for v in range(up_to_version + 1):
            try:
                doc = doc_of(v)
            except Exception:
                continue
            if doc.get("add"):
                schema_info = self._delta_schema(doc["add"])
                if schema_info:
                    self._delta_schema_cache = schema_info
                    return schema_info
        return None

    def _mirror_delta_log(
        self,
        up_to_version: int,
        latest_doc: dict | None = None,
        _bootstrapped: bool = False,
    ) -> None:
        """Backfill `_delta_log/` with every missing version ≤
        ``up_to_version`` from the authoritative _txn docs; every
        ``_CHECKPOINT_INTERVAL``-th version also writes a Delta PARQUET
        checkpoint + ``_last_checkpoint`` so stock readers replay a
        bounded suffix (and so a table whose pre-mirror history was
        vacuumed can BOOTSTRAP from our own checkpoint instead of being
        unmirrorable). Best-effort: any failure leaves the mirror
        behind, to be healed next commit."""
        if getattr(self, "_mirror_disabled", False):
            return
        try:
            mirror_dir = self._delta_log_dir()
            have = set()
            delta_cps = set()
            for info in self.fs.list(mirror_dir):
                name = info.path.rsplit("/", 1)[-1]
                if name.endswith(".checkpoint.parquet"):
                    try:
                        delta_cps.add(int(name[: -len(".checkpoint.parquet")]))
                    except ValueError:
                        pass
                elif name.endswith(".json") and name != "_last_checkpoint":
                    try:
                        have.add(int(name[: -len(".json")]))
                    except ValueError:
                        pass
            base = max(delta_cps, default=-1)
            missing = [v for v in range(base + 1, up_to_version + 1) if v not in have]

            def doc_of(v: int) -> dict:
                if latest_doc is not None and v == up_to_version:
                    return latest_doc
                return self.read_commit(v)

            if missing:
                self._mirror_missing(
                    mirror_dir, missing, up_to_version, doc_of,
                    first_is_origin=(base == -1), bootstrapped=_bootstrapped,
                )
            # periodic Delta checkpoint: bounded replay for stock readers
            if (
                up_to_version > base
                and up_to_version % _CHECKPOINT_INTERVAL == 0
                and up_to_version not in delta_cps
            ):
                self._write_delta_checkpoint(mirror_dir, up_to_version, doc_of)
        except Exception:
            pass

    def _mirror_missing(
        self, mirror_dir: str, missing: list[int], up_to_version: int, doc_of,
        first_is_origin: bool, bootstrapped: bool = False,
    ) -> None:
        schema_info = None
        if first_is_origin and 0 in missing:
            # metaData needs a schema: derive from the first commit
            # that carries data files (search forward); cached on
            # the handle so steady-state commits never re-read it
            schema_info = self._cached_schema_info(up_to_version, doc_of)
            if schema_info is None:
                return  # nothing mirrorable yet
        self.fs.mkdirs(mirror_dir)
        for v in missing:
            try:
                doc = doc_of(v)
            except Exception:
                # _txn history vacuumed away: bootstrap from our own
                # checkpoint as a Delta parquet checkpoint base; stock
                # readers then start there via _last_checkpoint, and the
                # re-run mirrors the JSON suffix after the new base.
                # ONE bootstrap attempt per mirror pass: if a commit
                # after the freshly-written base is still unreadable
                # (corruption, partial vacuum), a second pass would loop
                # forever — disable mirroring instead of recursing.
                if not bootstrapped and self._bootstrap_delta_checkpoint(
                    mirror_dir, up_to_version, doc_of
                ):
                    self._mirror_delta_log(up_to_version, _bootstrapped=True)
                else:
                    self._mirror_disabled = True
                    # Loud, once: the JSON log stays authoritative, but
                    # stock Delta readers silently stop seeing commits
                    # newer than the last mirrored version.
                    import logging

                    logging.getLogger(__name__).warning(
                        "Delta mirror for %s disabled: commit %d is "
                        "unreadable and a checkpoint bootstrap did not "
                        "help; stock Delta readers are pinned at the "
                        "last mirrored version (the table's own JSON "
                        "log is unaffected). Check mirror_healthy / "
                        "repair the _txn history to re-enable.",
                        self.table_uri,
                        v,
                    )
                return
            actions = [
                {
                    "commitInfo": {
                        "timestamp": doc["timestamp_ms"],
                        "operation": doc.get("op", "append").upper(),
                        "engineInfo": "modelardb_rs_spark txlog mirror",
                    }
                }
            ]
            if v == 0 and first_is_origin:
                actions.append(
                    {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
                )
                actions.append(self._metadata_action(schema_info, doc["timestamp_ms"]))
            if doc.get("txn"):
                actions.append(
                    {
                        "txn": {
                            "appId": doc["txn"]["appId"],
                            "version": doc["txn"]["version"],
                            "lastUpdated": doc["timestamp_ms"],
                        }
                    }
                )
            for entry in doc.get("add", []):
                actions.append(self._add_action(entry, doc["timestamp_ms"]))
            for rel in doc.get("remove", []):
                actions.append(
                    {
                        "remove": {
                            "path": rel,
                            "deletionTimestamp": doc["timestamp_ms"],
                            "dataChange": True,
                        }
                    }
                )
            payload = (
                "\n".join(json.dumps(a, separators=(",", ":")) for a in actions)
                + "\n"
            ).encode("utf-8")
            self.fs.create_exclusive(
                self.fs.join(mirror_dir, f"{v:020d}.json"), payload
            )

    @staticmethod
    def _add_action(entry: dict, ts_ms: int) -> dict:
        rel = entry["path"]
        pv = {}
        for seg in rel.split("/")[:-1]:
            if "=" in seg:
                k, _, val = seg.partition("=")
                pv[k] = val
        return {
            "add": {
                "path": rel,
                "partitionValues": pv,
                "size": entry.get("size", 0),
                "modificationTime": ts_ms,
                "dataChange": True,
            }
        }

    def _metadata_action(self, schema_info: tuple, ts_ms: int) -> dict:
        schema, parts = schema_info
        import uuid as _uuid

        # Delta treats the table id as STABLE for the table's lifetime;
        # readers may cache/validate by it. Derive it deterministically
        # from the table URI so the v0 JSON commit and every parquet
        # checkpoint (written at different times) agree.
        return {
            "metaData": {
                "id": str(_uuid.uuid5(_uuid.NAMESPACE_URL, self.table_uri)),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": parts,
                "configuration": {},
                "createdTime": ts_ms,
            }
        }

    def _write_delta_checkpoint(self, mirror_dir: str, version: int, doc_of) -> None:
        """Delta PARQUET checkpoint at ``version`` (full live state, one
        action struct per row — public PROTOCOL.md checkpoint schema)
        plus the ``_last_checkpoint`` pointer. Stock readers then replay
        only the JSON commits after it."""
        snap = self.snapshot(version=version)
        schema_info = self._cached_schema_info(version, doc_of)
        if schema_info is None:
            return
        self._emit_delta_checkpoint(mirror_dir, version, snap.files, schema_info, snap.txns)

    def _bootstrap_delta_checkpoint(self, mirror_dir: str, up_to_version: int, doc_of) -> bool:
        """When pre-mirror _txn history was vacuumed, base the mirror on
        OUR earliest reconstructable state: write a Delta parquet
        checkpoint at our latest own-checkpoint version ≤ up_to and let
        the next commit mirror the JSON suffix after it. Returns False
        when no base exists (mirroring impossible)."""
        _, cps = self._list_log()
        bases = [c for c in cps if c <= up_to_version]
        if not bases:
            return False
        c = max(bases)
        try:
            cp = self.read_checkpoint(c)
        except Exception:
            return False
        schema_info = self._cached_schema_info(up_to_version, doc_of)
        if schema_info is None:
            schema_info = self._delta_schema(cp.get("files", []))
            if schema_info is None:
                return False
            self._delta_schema_cache = schema_info
        self.fs.mkdirs(mirror_dir)
        self._emit_delta_checkpoint(
            mirror_dir, c, cp.get("files", []), schema_info, cp.get("txns", {})
        )
        return True

    def _emit_delta_checkpoint(
        self,
        mirror_dir: str,
        version: int,
        files: list[dict],
        schema_info: tuple,
        txns: dict[str, int] | None = None,
    ) -> None:
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        now_ms = int(time.time() * 1000)
        meta = self._metadata_action(schema_info, now_ms)["metaData"]
        proto = {"minReaderVersion": 1, "minWriterVersion": 2}
        adds = [self._add_action(e, now_ms)["add"] for e in files]
        txn_rows = [
            {"appId": app, "version": int(v), "lastUpdated": now_ms}
            for app, v in sorted((txns or {}).items())
        ]
        n = 2 + len(txn_rows) + len(adds)
        pad = [None] * n
        rows = {
            "protocol": [proto] + pad[1:],
            "metaData": [None, meta] + pad[2:],
            "txn": [None, None] + txn_rows + [None] * len(adds),
            "add": [None, None] + [None] * len(txn_rows) + adds,
        }
        pv_type = pa.map_(pa.string(), pa.string())
        schema = pa.schema(
            [
                pa.field(
                    "protocol",
                    pa.struct(
                        [
                            pa.field("minReaderVersion", pa.int32()),
                            pa.field("minWriterVersion", pa.int32()),
                        ]
                    ),
                ),
                pa.field(
                    "metaData",
                    pa.struct(
                        [
                            pa.field("id", pa.string()),
                            pa.field(
                                "format",
                                pa.struct(
                                    [
                                        pa.field("provider", pa.string()),
                                        pa.field("options", pv_type),
                                    ]
                                ),
                            ),
                            pa.field("schemaString", pa.string()),
                            pa.field("partitionColumns", pa.list_(pa.string())),
                            pa.field("configuration", pv_type),
                            pa.field("createdTime", pa.int64()),
                        ]
                    ),
                ),
                pa.field(
                    "txn",
                    pa.struct(
                        [
                            pa.field("appId", pa.string()),
                            pa.field("version", pa.int64()),
                            pa.field("lastUpdated", pa.int64()),
                        ]
                    ),
                ),
                pa.field(
                    "add",
                    pa.struct(
                        [
                            pa.field("path", pa.string()),
                            pa.field("partitionValues", pv_type),
                            pa.field("size", pa.int64()),
                            pa.field("modificationTime", pa.int64()),
                            pa.field("dataChange", pa.bool_()),
                        ]
                    ),
                ),
            ]
        )

        def as_struct_rows(key, items):
            out = []
            for it in items:
                if it is None:
                    out.append(None)
                elif key == "metaData":
                    it = dict(it)
                    it["format"] = {
                        "provider": it["format"]["provider"],
                        "options": list(it["format"]["options"].items()),
                    }
                    it["configuration"] = list(it["configuration"].items())
                    out.append(it)
                elif key == "add":
                    it = dict(it)
                    it["partitionValues"] = list(it["partitionValues"].items())
                    out.append(it)
                else:
                    out.append(it)
            return out

        table = pa.table(
            {
                "protocol": pa.array(rows["protocol"], type=schema.field("protocol").type),
                "metaData": pa.array(
                    as_struct_rows("metaData", rows["metaData"]),
                    type=schema.field("metaData").type,
                ),
                "txn": pa.array(rows["txn"], type=schema.field("txn").type),
                "add": pa.array(
                    as_struct_rows("add", rows["add"]), type=schema.field("add").type
                ),
            }
        )
        buf = io.BytesIO()
        pq.write_table(table, buf)
        self.fs.write_bytes(
            self.fs.join(mirror_dir, f"{version:020d}.checkpoint.parquet"),
            buf.getvalue(),
        )
        self.fs.write_bytes(
            self.fs.join(mirror_dir, "_last_checkpoint"),
            json.dumps({"version": version, "size": n}).encode("utf-8"),
        )

    def _write_checkpoint(self, base: Snapshot, commit: dict) -> None:
        """Materialize the live file set after `commit` (whose builder
        saw `base`) as ``<version>.checkpoint.json``. Best-effort: the
        commit is already durable, so a failed checkpoint write costs
        replay time, never correctness; create-exclusive makes racing
        checkpointers idempotent."""
        live = {entry["path"]: entry for entry in base.files}
        txns = dict(base.txns)
        self._apply(live, commit, txns)
        meta = commit.get("meta") if commit.get("meta") is not None else base.meta
        doc = {
            "version": commit["version"],
            "timestamp_ms": commit["timestamp_ms"],
            "files": list(live.values()),
            # txn markers survive log truncation via the checkpoint, so
            # replay-idempotency gates keep working after VACUUM drops
            # the commits that originally recorded them
            "txns": txns,
        }
        if meta is not None:
            # the latest app metadata likewise survives log truncation
            doc["meta"] = meta
        try:
            self.fs.create_exclusive(
                self._checkpoint_uri(commit["version"]),
                json.dumps(doc, separators=(",", ":")).encode("utf-8"),
            )
        except Exception:
            pass

    # ---------------------------------------------------------- vacuum

    def vacuum(
        self, retain_seconds: float, staging_grace_seconds: float | None = None
    ) -> list[str]:
        """Delete files removed before the retention horizon, plus staged
        directories no commit references (crashed writes) and temporary
        log files a crashed commit left (``is_create_temp``). Returns the
        deleted URIs. Time travel to versions older than the horizon
        stops working — same contract as Delta VACUUM.

        Unreferenced staging sweeps on a clock that never trails the
        data retention DOWNWARD: an in-flight write's ``txn=``
        directory is indistinguishable from a crashed one until its
        commit lands, so the sweep always requires the directory to be
        at least ``_STAGING_ORPHAN_GRACE_SECONDS`` old — a
        zero-retention vacuum racing a live writer must not delete the
        files its commit is about to reference (found by the round-10
        chaos test; Delta guards the same hazard by refusing
        sub-default retention without an override). By DEFAULT the
        sweep additionally waits for the data retention horizon (the
        older of the two clocks): a staging write slower than the
        600 s default grace is plausible at large table scale, and
        nothing enforces that operators sized the grace to their
        slowest write — the conservative default costs only deferred
        garbage collection, never data. Passing
        ``staging_grace_seconds`` EXPLICITLY asserts "no honest write
        stages longer than this" and switches staging to that grace
        clock alone, so orphans stop waiting out a long data
        retention."""
        horizon_ms = int((time.time() - retain_seconds) * 1000)
        if staging_grace_seconds is None:
            stage_horizon_ms = min(
                horizon_ms,
                int((time.time() - _STAGING_ORPHAN_GRACE_SECONDS) * 1000),
            )
        else:
            stage_horizon_ms = int((time.time() - staging_grace_seconds) * 1000)
        commits = self.commits()
        live = set(self.snapshot().paths)
        referenced: set[str] = set()
        removed_at: dict[str, int] = {}
        for c in commits:
            for entry in c.get("add", []):
                referenced.add(entry["path"])
            for path in c.get("remove", []):
                removed_at[path] = c["timestamp_ms"]
        deleted = []
        # 1) files removed from the live set before the horizon
        for path, ts in removed_at.items():
            if path not in live and ts <= horizon_ms:
                uri = self.fs.join(self.table_uri, path)
                if self.fs.exists(uri):
                    self.fs.delete(uri)
                    deleted.append(uri)
        # 2) staged dirs never referenced by any commit and older than
        # the STAGING grace (not the data horizon — see docstring)
        for info in self.fs.list(self.table_uri):
            name = info.path.rsplit("/", 1)[-1]
            if not info.is_dir or not name.startswith("txn="):
                continue
            rel_prefix = name + "/"
            if any(p.startswith(rel_prefix) for p in referenced):
                continue
            if info.mtime_ms <= stage_horizon_ms:
                self.fs.delete(info.path, recursive=True)
                deleted.append(info.path)
        # 3) log cleanup: commits/checkpoints strictly before the newest
        # checkpoint that is itself outside retention are unreachable by
        # any time travel the retention contract still promises — delete
        # them so the log dir (and snapshot listing) stays bounded.
        cp_vs = sorted(self._list_log()[1])
        base = None
        for cv in cp_vs:
            if self.read_checkpoint(cv)["timestamp_ms"] <= horizon_ms:
                base = cv
        if base is not None:
            for c in commits:
                if c["version"] < base and c["timestamp_ms"] <= horizon_ms:
                    uri = self._commit_uri(c["version"])
                    if self.fs.delete(uri):
                        deleted.append(uri)
            for cv in cp_vs:
                if cv < base:
                    uri = self._checkpoint_uri(cv)
                    if self.fs.delete(uri):
                        deleted.append(uri)
        # 4) temporary files a crashed create_exclusive left in the log
        # directories, on the staging grace clock (a live one is younger)
        for log_dir in (self.log_uri, self._delta_log_dir()):
            for info in self.fs.list(log_dir):
                name = info.path.rsplit("/", 1)[-1]
                if is_create_temp(name) and info.mtime_ms <= stage_horizon_ms:
                    if self.fs.delete(info.path):
                        deleted.append(info.path)
        return deleted
