"""Cluster membership + coordination — the reference's manager role.

Mirrors modelardb_server/src/cluster.rs and
modelardb_storage/src/data_folder/cluster.rs:

- membership lives IN the shared (remote) data folder: a ``cluster_key``
  (UUID, created once with putIfAbsent — cluster.rs key()), and a node
  set (Flight URL + mode edge|cloud — types.rs Node/ServerMode),
- registering a node validates it is reachable and pushes the remote
  folder's tables to it (the reference's retrieve_and_create_tables,
  cluster.rs:92-119, run manager-side),
- cluster DDL (create/drop/truncate/vacuum) applies to the remote data
  folder first, then fans out to every peer over Flight actions
  (cluster.rs:139-252),
- ``query_node`` picks a RANDOM cloud node (cluster.rs:121-137);
  ``read_sql`` executes there, ``read_sql_all`` fans out and unions
  (remote.rs:91-119 — the INCLUDE merge shape).

Spark-first divergence: the node set is an append-only action log in a
normal table (``__cluster_nodes``: url, mode, action, ts) — the storage
layer is append-only by design, and the live set is the latest action
per url, resolved with one window. The reference keeps a mutable
metadata Delta table instead (data_folder/cluster.rs:105-163); both
give the same nodes() surface.
"""

from __future__ import annotations

import random
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modelardb_rs_spark.engine import Engine
from modelardb_rs_spark.flight import ModelarFlightClient
from modelardb_rs_spark.frames import rows_frame

_NODES_TABLE = "__cluster_nodes"
_MODES = ("edge", "cloud")


@dataclass(frozen=True)
class Node:
    """One ModelarDB server (types.rs:365-375): the Flight URL uniquely
    identifies it; mode is assigned at server start."""

    url: str
    mode: str  # edge | cloud


class Cluster:
    """Manager over a shared data folder plus Flight peer nodes."""

    def __init__(self, spark: SparkSession, remote_root: str) -> None:
        self.engine = Engine(spark, remote_root)
        if _NODES_TABLE not in self.engine.tables():
            self.engine.create_table(
                _NODES_TABLE, "url STRING, mode STRING, action STRING, ts BIGINT"
            )

    # ------------------------------------------------------------ identity

    def key(self) -> str:
        """The cluster's UUID key, created exactly once (putIfAbsent —
        data_folder/cluster.rs:76-103): every manager of this folder
        sees the same key forever."""
        fs = self.engine.folder.fs
        uri = fs.join(self.engine.folder.metadata_dir, "cluster_key")
        fresh = str(uuid.uuid4()).encode("utf-8")
        fs.create_exclusive(uri, fresh)  # loser of the race reads the winner's
        return fs.read_bytes(uri).decode("utf-8")

    # ---------------------------------------------------------- membership

    def register_node(self, url: str, mode: str, replicate_tables: bool = True) -> Node:
        """Add a node: verify it answers Flight NodeType, push the
        remote folder's tables to it (cluster.rs:92-119 semantics), and
        record the membership action."""
        if mode not in _MODES:
            raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
        client = ModelarFlightClient(url)
        client.node_type()  # reachability check; raises if down
        if replicate_tables:
            have = set(client.tables())
            for name, ddl in self._table_ddls():
                if name not in have:
                    client.create(ddl)
        self._record(url, mode, "add")
        return Node(url, mode)

    def remove_node(self, url: str, kill: bool = False) -> None:
        """Remove a node from the live set (cluster.rs:344-352);
        ``kill=True`` also sends KillNode, best-effort."""
        self._record(url, "", "remove")
        if kill:
            try:
                ModelarFlightClient(url).kill()
            except Exception:
                pass

    def nodes(self) -> list[Node]:
        """Live node set: latest action per url wins."""
        from pyspark.sql import Window

        df = self.engine.table(_NODES_TABLE)
        w = Window.partitionBy("url").orderBy(F.col("ts").desc())
        latest = (
            df.withColumn("__rn__", F.row_number().over(w))
            .where((F.col("__rn__") == 1) & (F.col("action") == "add"))
        )
        return [Node(r["url"], r["mode"]) for r in latest.collect()]

    def _record(self, url: str, mode: str, action: str) -> None:
        self.engine.write(
            _NODES_TABLE,
            rows_frame(
                self.engine.spark,
                [(url, mode, action, time.time_ns())],
                "url STRING, mode STRING, action STRING, ts BIGINT",
            ),
        )

    # ------------------------------------------------------------- queries

    def query_node(self) -> Node:
        """A random CLOUD node (the reference's 'most capable node is
        currently selected at random', cluster.rs:121-137)."""
        cloud = [n for n in self.nodes() if n.mode == "cloud"]
        if not cloud:
            raise RuntimeError(
                "there are no cloud nodes to execute the query in the cluster"
            )
        return random.choice(cloud)

    def read_sql(self, sql: str) -> pa.Table:
        """Execute on one cloud node."""
        return ModelarFlightClient(self.query_node().url).read(sql)

    def read_sql_all(self, sql: str) -> pa.Table:
        """Fan the statement out to EVERY node and concatenate the Arrow
        results (remote.rs:91-119 merge shape). Unreachable nodes raise;
        membership is explicit, not gossip. This convenience returns a
        DRIVER-SIDE Arrow table, so it is for aggregate-sized results;
        bulk unions should use ``read_sql_all_df`` (streamed,
        bounded-memory relay) or ``INCLUDE '<folder>' SELECT ...`` over
        shared storage, which keeps the scan on the cluster."""
        tables = [
            ModelarFlightClient(n.url).read(sql) for n in self.nodes()
        ]
        if not tables:
            return pa.table({})
        return pa.concat_tables(tables, promote_options="default")

    def read_sql_all_df(self, sql: str):
        """Fan out to every node and union the results as a DataFrame
        with BOUNDED driver memory: each node's stream is relayed
        batch-wise — aggregate-sized results build in memory, larger
        ones spill to shared-storage staging that the EXECUTORS read
        (flight.relay_to_dataframe). The driver holds at most one spill
        buffer per node, never a whole result — the Spark-side analog
        of the reference's incremental stream merge (remote.rs:91-119)."""
        from modelardb_rs_spark.flight import relay_to_dataframe

        result = None
        for n in self.nodes():
            part = relay_to_dataframe(self.engine, n.url, sql)
            result = part if result is None else result.unionByName(part)
        if result is None:
            # Empty membership: return an empty frame with the QUERY'S
            # schema (planned against the manager's own folder, where
            # cluster tables are created first) so callers that
            # unionByName or select columns behave identically to the
            # populated case — a fabricated schema would fail or
            # silently mis-shape downstream.
            return self.engine.read_sql(sql).limit(0)
        return result

    # ----------------------------------------------------------------- DDL

    def create_cluster_table(self, ddl: str) -> None:
        """CREATE on the remote folder, then on every peer
        (cluster.rs:139-192). The remote create runs first so a crash
        mid-broadcast leaves peers recoverable via register_node's
        replication."""
        self.engine.read_sql(ddl)
        self._broadcast("CreateTable", ddl)

    def drop_cluster_tables(self, names: list[str]) -> None:
        for n in names:
            self.engine.drop(n)
            self._broadcast("DropTable", n)

    def truncate_cluster_tables(self, names: list[str]) -> None:
        for n in names:
            self.engine.truncate(n)
            self._broadcast("TruncateTable", n)

    def vacuum_cluster_tables(self, names: list[str] | None = None) -> None:
        self.engine.vacuum(names)
        for n in names or [""]:
            self._broadcast("VacuumTable", n)

    def flush_all(self) -> None:
        self._broadcast("FlushNode", "")

    def _broadcast(self, action: str, body: str) -> None:
        errors = []
        for node in self.nodes():
            try:
                ModelarFlightClient(node.url)._action(action, body)
            except Exception as exc:  # collect, report all at once
                errors.append(f"{node.url}: {exc}")
        if errors:
            raise RuntimeError(
                f"cluster {action} failed on {len(errors)} node(s): " + "; ".join(errors)
            )

    def _table_ddls(self) -> list[tuple[str, str]]:
        """Reconstruct a CREATE statement per remote-folder table
        (the reference ships Arrow schemas over do_put; DDL strings are
        the equivalent over our action surface)."""
        from modelardb_rs_spark.types import TableKind

        out = []
        for name, kind in self.engine.catalog.tables().items():
            if name == _NODES_TABLE:
                continue
            if kind == TableKind.TIME_SERIES:
                meta = self.engine.catalog.time_series_metadata(name)
                out.append((name, meta.to_create_sql()))
            else:
                schema = self.engine.catalog.normal_table_schema(name)
                cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
                out.append((name, f"CREATE TABLE {name}({cols})"))
        return out
