"""Arrow Flight endpoint — the engine's wire protocol surface.

Mirrors the reference ``modelardbd`` Flight interface
(crates/modelardb_server/src/remote.rs):

- ``do_get(Ticket(sql))``            → stream query results (remote.rs:636-744)
- ``do_put(FlightDescriptor(table))``→ ingest record batches (remote.rs:750-794)
- ``do_action``                      → CreateTable / TruncateTable / DropTable /
                                       VacuumTable / FlushMemory (remote.rs:827-999)
- ``get_schema(table)``              → query schema
- ``list_flights``                   → one FlightInfo per table

Spark-first notes: results stream Spark→Arrow incrementally — small
results take the fast ``DataFrame.toArrow()`` path (one Arrow-native
collection), large ones iterate ``toLocalIterator`` partition-by-
partition into bounded Arrow batches, mirroring the reference's
channel-backed batch stream (remote.rs:729-743) instead of
materializing the whole result on the driver. Ingest: an upload of at
most ``_IN_PROCESS_PUT_BYTES`` is handed to ``Engine.write`` as an
Arrow table, which compresses a time series upload in-process with no
Spark job; larger uploads spill to staged parquet and take one
distributed ``spark.read.parquet`` write.
"""

from __future__ import annotations

import json
import threading

import pyarrow as pa
import pyarrow.flight as flight

from modelardb_rs_spark.engine import Engine
from modelardb_rs_spark.plans.stats import plan_size_bytes

# Results estimated under this collect in one Arrow table (cheapest
# path); larger ones stream through toLocalIterator with bounded memory.
_COLLECT_RESULT_LIMIT = 64 << 20

# do_put uploads up to this many Arrow bytes are compressed in-process
# on the server thread; larger ones take the staged distributed write.
# Measured with fleet-shaped uploads (24 series, two float fields) on a
# 4-core local[4] host: in-process wins a lone put at every size to
# 30 MiB (30 MiB: 2.8 s vs 4.9 s) and two concurrent puts to 16 MiB
# (4.0 s vs 4.7 s), but loses two concurrent 30 MiB puts (7.5 s vs
# 6.6 s): two driver-side fits share one GIL, while Spark spreads the
# staged fits over all cores.
_IN_PROCESS_PUT_BYTES = 16 << 20


class ModelarFlightServer(flight.FlightServerBase):
    def __init__(
        self,
        engine: Engine,
        location: str = "grpc://127.0.0.1:0",
        stream_batch_rows: int = 8192,
        stream_wave_partitions: int = 16,
    ) -> None:
        super().__init__(location)
        self.engine = engine
        self.stream_batch_rows = stream_batch_rows
        # Partitions collected per round in the streaming path; driver
        # memory is bounded by one wave's packed IPC bytes.
        self.stream_wave_partitions = stream_wave_partitions

    # -- queries -----------------------------------------------------------

    def _stream_batches(self, df):
        """Yield Arrow batches partition-wise with bounded driver memory.

        Arrow relay: each EXECUTOR packs its Arrow batches into
        single-cell IPC payloads (``mapInArrow``), so the driver's
        ``toLocalIterator`` crosses the Python row machinery once per
        BATCH of ``stream_batch_rows`` rows, not once per data row —
        the egress loop is Arrow end-to-end (executor → IPC bytes →
        client) with memory bounded by one prefetched partition. The
        reference streams channel-backed batches the same way
        (remote.rs:729-743)."""
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(df.schema)
        max_rows = self.stream_batch_rows

        def pack(batches):
            for batch in batches:
                for lo in range(0, batch.num_rows, max_rows):
                    piece = batch.slice(lo, max_rows)
                    sink = pa.BufferOutputStream()
                    with pa.ipc.new_stream(sink, piece.schema) as w:
                        w.write_batch(piece)
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([sink.getvalue().to_pybytes()], type=pa.binary())],
                        names=["ipc"],
                    )

        # Waved collection instead of toLocalIterator: toLocalIterator
        # schedules ONE sequential job per partition (~scheduling latency
        # × partitions); runJob over waves of K partitions keeps K-way
        # parallelism per round while bounding driver memory to one
        # wave's IPC bytes.
        packed = df.mapInArrow(pack, schema="ipc binary")
        rdd = packed.rdd
        sc = self.engine.spark.sparkContext
        nparts = rdd.getNumPartitions()
        wave = max(1, self.stream_wave_partitions)
        for start in range(0, nparts, wave):
            parts = list(range(start, min(start + wave, nparts)))
            payloads = sc.runJob(rdd, lambda it: [bytes(r[0]) for r in it], parts)
            for payload in payloads:
                for piece in pa.ipc.open_stream(pa.py_buffer(payload)):
                    if piece.schema.equals(schema):
                        yield piece
                    else:  # defensive: worker-side Arrow type nuances
                        yield (
                            pa.Table.from_batches([piece])
                            .cast(pa.schema(schema))
                            .combine_chunks()
                            .to_batches()[0]
                        )

    def do_get(self, context, ticket: flight.Ticket):
        sql = ticket.ticket.decode("utf-8")
        df = self.engine.read_sql(sql)
        if df is None:  # DDL/utility statement: empty result stream
            empty = pa.table({"ok": pa.array([True])})
            return flight.RecordBatchStream(empty)
        if self._result_bytes_bound(sql, df) <= _COLLECT_RESULT_LIMIT:
            return flight.RecordBatchStream(df.toArrow())
        from pyspark.sql.pandas.types import to_arrow_schema

        return flight.GeneratorStream(to_arrow_schema(df.schema), self._stream_batches(df))

    def _result_bytes_bound(self, sql: str, df) -> int:
        """Size bound deciding collect-vs-stream. Catalyst's
        ``plan_size_bytes`` measures SEGMENT bytes for time-series
        scans, but gridding expands segments to points by the model
        compression ratio (10-100x by design) — a well-compressed
        table's full scan can pass a plan-bytes check and then
        ``toArrow()`` a multi-GB result onto the driver. So when the
        optimized plan actually reconstructs points (the
        explode-sequence fast path or the MapInPandas decode stage —
        the stats-pushdown aggregate plans contain neither and keep the
        fast path), the bound is raised to the commit log's total point
        counts x row width for every referenced time-series table.
        Over-streaming is safe; under-collecting is not."""
        est = plan_size_bytes(df)
        if est > _COLLECT_RESULT_LIMIT:
            return est
        try:
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception:
            return 1 << 62  # can't see the plan: stream on doubt
        if "explode(sequence(" not in plan and "MapInPandas" not in plan:
            return est
        import re as _re

        from modelardb_rs_spark.types import TableKind

        bound = est
        for name, kind in self.engine.catalog.tables().items():
            if kind != TableKind.TIME_SERIES:
                continue
            if _re.search(rf"(?i)\b{_re.escape(name)}\b", sql):
                bound = max(bound, self.engine.reconstructed_bytes_bound(name))
        return bound

    # -- ingest ------------------------------------------------------------

    # Incoming do_put chunks accumulate to this many Arrow bytes before
    # spilling one parquet file to staging — the driver-memory bound for
    # uploads of any size.
    put_spill_bytes = 32 << 20

    def do_put(self, context, descriptor: flight.FlightDescriptor, reader, writer):
        """Ingest a record-batch upload with BOUNDED driver memory.

        The reference streams do_put batches through a bounded channel
        into the storage engine, compressing in-process
        (remote.rs:750-794). Here the reader is iterated chunk by chunk
        into one ``put_spill_bytes`` buffer. An upload of at most
        ``_IN_PROCESS_PUT_BYTES`` is already on the driver, so it goes
        to ``Engine.write`` as an Arrow table: a time series table is
        fitted and written in-process with no Spark job. A larger
        upload spills each full buffer, and its tail, as one parquet
        file into a staging directory under the engine's data folder
        (created on the first spill; shared storage on a real cluster,
        so executors can read it) and is ingested as ONE distributed
        ``spark.read.parquet`` + transactional commit.
        A multi-GB put holds at most one spill buffer plus one in-flight
        batch on the driver — never the whole upload — and the
        compressor sees a single large input instead of per-chunk
        dribbles."""
        import io
        import uuid

        import pyarrow.parquet as pq

        table_name = descriptor.path[0].decode("utf-8")
        fs = self.engine.folder.fs
        stage = None
        try:
            buf: list[pa.RecordBatch] = []
            buf_bytes = 0
            n_files = 0
            schema = reader.schema

            def flush() -> None:
                nonlocal buf, buf_bytes, n_files, stage
                if not buf:
                    return
                if stage is None:
                    stage = fs.join(
                        self.engine.folder.root, "_staging", f"put-{uuid.uuid4().hex[:16]}"
                    )
                    fs.mkdirs(stage)
                sink = io.BytesIO()
                pq.write_table(pa.Table.from_batches(buf, schema=schema), sink)
                fs.write_bytes(
                    fs.join(stage, f"chunk-{n_files:06d}.parquet"), sink.getvalue()
                )
                buf, buf_bytes = [], 0
                n_files += 1

            while True:
                try:
                    chunk = reader.read_chunk()
                except StopIteration:
                    break
                batch = chunk.data
                if batch is None or batch.num_rows == 0:
                    continue
                buf.append(batch)
                buf_bytes += batch.nbytes
                if buf_bytes >= self.put_spill_bytes:
                    flush()
            if stage is None and buf_bytes <= _IN_PROCESS_PUT_BYTES:
                if buf:
                    self.engine.write(table_name, pa.Table.from_batches(buf, schema=schema))
                return
            flush()
            self.engine.write(table_name, self.engine.spark.read.parquet(stage))
        finally:
            if stage is not None:
                try:
                    fs.delete(stage, recursive=True)
                except Exception:
                    pass

    # -- actions -----------------------------------------------------------

    # Runtime-settable session knobs exposed over the wire (the analog of
    # the reference's multivariate_reserved_memory_in_bytes etc. —
    # remote.rs:888-999 GetConfiguration/UpdateConfiguration).
    _CONFIG_KEYS = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
    )

    def do_action(self, context, action: flight.Action):
        body = action.body.to_pybytes().decode("utf-8") if action.body else ""
        if action.type == "CreateTable":
            self.engine.read_sql(body)
        elif action.type == "TruncateTable":
            self.engine.truncate(body)
        elif action.type == "DropTable":
            self.engine.drop(body)
        elif action.type == "VacuumTable":
            self.engine.vacuum([body] if body else None)
        elif action.type in ("FlushMemory", "FlushNode"):
            pass  # batch engine: writes are durable on return
        elif action.type == "NodeType":
            return [flight.Result(self.engine.modelardb_type().encode("utf-8"))]
        elif action.type == "GetConfiguration":
            conf = {}
            for k in self._CONFIG_KEYS:
                try:
                    conf[k] = self.engine.spark.conf.get(k)
                except Exception:
                    conf[k] = None
            return [flight.Result(json.dumps(conf).encode("utf-8"))]
        elif action.type == "UpdateConfiguration":
            key, _, value = body.partition("=")
            key = key.strip()
            if key not in self._CONFIG_KEYS:
                raise flight.FlightServerError(f"setting {key!r} is not updatable")
            self.engine.spark.conf.set(key, value.strip())
        elif action.type == "KillNode":
            # reference Kill terminates the process (remote.rs:857-866);
            # here: stop serving. shutdown() must not run on the handler
            # thread, so hand it to a timer.
            threading.Timer(0.2, self.shutdown).start()
        else:
            raise flight.FlightServerError(f"unknown action {action.type!r}")
        return [flight.Result(b"ok")]

    def list_actions(self, context):
        return [
            ("CreateTable", "Execute a CREATE (TIME SERIES) TABLE statement"),
            ("TruncateTable", "Delete all data in a table"),
            ("DropTable", "Drop a table"),
            ("VacuumTable", "Vacuum one table (or all, empty body)"),
            ("FlushMemory", "No-op: batch writes are durable on return"),
            ("FlushNode", "No-op: batch writes are durable on return"),
            ("NodeType", "Return the deployment kind (embedded)"),
            ("GetConfiguration", "Return updatable settings as JSON"),
            ("UpdateConfiguration", "Set one setting: key=value"),
            ("KillNode", "Stop serving Flight requests"),
        ]

    # -- metadata ----------------------------------------------------------

    def get_schema(self, context, descriptor: flight.FlightDescriptor):
        name = descriptor.path[0].decode("utf-8")
        df = self.engine.table(name)
        return flight.SchemaResult(df.limit(0).toArrow().schema)

    def list_flights(self, context, criteria):
        for name in self.engine.tables():
            descriptor = flight.FlightDescriptor.for_path(name.encode("utf-8"))
            yield flight.FlightInfo(
                pa.schema([]), descriptor, [], -1, -1
            )


def start_server(
    engine: Engine, port: int = 0, stream_batch_rows: int = 8192
) -> ModelarFlightServer:
    """Start a Flight server on a background thread; returns the server
    (``server.port`` for the bound port, ``server.shutdown()`` to stop)."""
    server = ModelarFlightServer(engine, f"grpc://127.0.0.1:{port}", stream_batch_rows)
    threading.Thread(target=server.serve, daemon=True).start()
    return server


# Relayed remote results above this many Arrow bytes spill to staged
# parquet instead of building an in-memory DataFrame.
_RELAY_SPILL_BYTES = 32 << 20


def relay_to_dataframe(
    engine, address: str, sql: str, spill_bytes: int | None = None
):
    """Stream a remote Flight query result into a DataFrame with
    BOUNDED driver memory (the reference merges remote streams
    incrementally, remote.rs:91-119 — this is the Spark-side analog).

    Small results (≤ ``spill_bytes`` of Arrow data) build one in-memory
    DataFrame — the common aggregate-sized case, zero extra I/O. Larger
    results spill incoming batches as parquet files into a staging
    directory under the engine's data folder (shared storage on a real
    cluster, so EXECUTORS read the relayed data — the driver only ever
    holds one spill buffer) and return ``spark.read.parquet`` over it.
    Staged relay directories are swept by ``Engine.vacuum`` once older
    than the retention window, so a consumed result's files disappear
    with the same contract as any other dead file."""
    import io
    import uuid

    import pyarrow.parquet as pq

    if spill_bytes is None:
        spill_bytes = _RELAY_SPILL_BYTES
    reader = flight.connect(address).do_get(flight.Ticket(sql.encode("utf-8")))
    schema = None
    buf: list[pa.RecordBatch] = []
    buf_bytes = 0
    stage = None
    n_files = 0
    fs = engine.folder.fs

    def flush() -> None:
        nonlocal buf, buf_bytes, stage, n_files
        if not buf:
            return
        if stage is None:
            stage = fs.join(
                engine.folder.root, "_staging", f"relay-{uuid.uuid4().hex[:16]}"
            )
            fs.mkdirs(stage)
        sink = io.BytesIO()
        pq.write_table(pa.Table.from_batches(buf, schema=schema), sink)
        fs.write_bytes(fs.join(stage, f"chunk-{n_files:06d}.parquet"), sink.getvalue())
        buf, buf_bytes = [], 0
        n_files += 1

    while True:
        try:
            chunk = reader.read_chunk()
        except StopIteration:
            break
        batch = chunk.data
        if batch is None:
            continue
        if schema is None:
            schema = batch.schema
        buf.append(batch)
        buf_bytes += batch.nbytes
        if buf_bytes >= spill_bytes:
            flush()
    if stage is None:
        # in-memory fast path (includes the empty result)
        if schema is None:
            schema = reader.schema
        return engine.spark.createDataFrame(pa.Table.from_batches(buf, schema=schema))
    flush()
    return engine.spark.read.parquet(stage)


class ModelarFlightClient:
    """Thin client mirroring the reference ``modelardb_embedded`` Client
    (operations over Flight, crates/modelardb_embedded/src/operations/client.rs)."""

    def __init__(self, address: str) -> None:
        self.inner = flight.connect(address)

    def read(self, sql: str) -> pa.Table:
        return self.inner.do_get(flight.Ticket(sql.encode("utf-8"))).read_all()

    def read_batches(self, sql: str):
        """Iterate result record batches as they stream in."""
        reader = self.inner.do_get(flight.Ticket(sql.encode("utf-8")))
        while True:
            try:
                chunk = reader.read_chunk()
            except StopIteration:
                return
            yield chunk.data

    def write(self, table: str, data: pa.Table) -> None:
        descriptor = flight.FlightDescriptor.for_path(table.encode("utf-8"))
        writer, _ = self.inner.do_put(descriptor, data.schema)
        writer.write_table(data)
        writer.close()

    def create(self, ddl: str) -> None:
        self._action("CreateTable", ddl)

    def truncate(self, table: str) -> None:
        self._action("TruncateTable", table)

    def drop(self, table: str) -> None:
        self._action("DropTable", table)

    def vacuum(self, table: str = "") -> None:
        self._action("VacuumTable", table)

    def tables(self) -> list[str]:
        return [
            f.descriptor.path[0].decode("utf-8") for f in self.inner.list_flights()
        ]

    def node_type(self) -> str:
        return self._action("NodeType")[0].body.to_pybytes().decode("utf-8")

    def get_configuration(self) -> dict:
        return json.loads(self._action("GetConfiguration")[0].body.to_pybytes())

    def update_configuration(self, key: str, value: str) -> None:
        self._action("UpdateConfiguration", f"{key}={value}")

    def kill(self) -> None:
        self._action("KillNode")

    def _action(self, name: str, body: str = "") -> list:
        return list(self.inner.do_action(flight.Action(name, body.encode("utf-8"))))
