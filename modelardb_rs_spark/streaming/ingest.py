"""Structured Streaming ingestion — the reference's buffering ingest
pipeline (crates/modelardb_server/src/storage/: IngestedDataBuffer →
per-series buffers → compression threads → Delta writer, with a WAL for
durability) re-expressed as micro-batch compression jobs.

Spark-first mapping (SURVEY.md §2.8):
- the channel/thread pipeline is a ``writeStream.foreachBatch`` loop —
  each micro-batch runs the same shuffle-parallel compress+write used by
  batch ingestion (operators/compress.py),
- WAL durability/exactly-once is the streaming checkpoint (source
  offsets + batch id commit log) instead of a bespoke Arrow-IPC log,
- per-series buffering/spill is Spark's own shuffle machinery,
- FlushMemory/FlushNode Flight actions map to
  ``query.processAllAvailable()`` / ``query.stop()``,
- cross-batch out-of-order data keeps the reference's relaxed
  semantics: each batch is compressed independently; segments from
  different batches may overlap in time and queries read them all
  (compression.rs:109-141).

``windowed_rollup`` adds what the reference lacks (and Spark gives for
free): watermarked event-time windows with a late-data policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from modelardb_rs_spark.engine import Engine
from modelardb_rs_spark.frames import rows_frame


def start_ingest(
    engine: Engine,
    table: str,
    stream: DataFrame,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Continuously compress a stream into a time series table.

    ``stream`` must match the table's insert schema. Exactly-once across
    restarts comes from the checkpoint; each micro-batch is compressed
    with the full shuffle-parallel fitter.
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        engine.write(table, batch_df)

    writer = stream.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def start_stateful_ingest(
    engine: Engine,
    table: str,
    stream: DataFrame,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    flush_idle: str = "1 minute",
    watermark_delay: str = "0 seconds",
    max_tail_points: int = 4096,
) -> StreamingQuery:
    """Continuously compress a stream with CROSS-BATCH segment state.

    ``start_ingest`` compresses each micro-batch independently, so a
    slow-trigger stream fragments every series into at least one segment
    per batch. This variant keeps, per series, the raw points of the
    still-open trailing segment in ``applyInPandasWithState`` state and
    re-fits them together with the next batch — segments close because
    the DATA breaks the error bound (or the buffer cap / idle timeout
    fires), not because a micro-batch boundary happened to fall there.
    This is the reference's in-memory per-series buffer
    (uncompressed_data_manager.rs:130-600: buffers persist across ingest
    calls, finished buffers move to compression) in Spark's state-store
    model; the streaming checkpoint doubles as the WAL.

    - closed segments are emitted in append mode and committed atomically
      per micro-batch through the transaction log,
    - a series whose last point is ``flush_idle`` behind the event-time
      watermark is flushed by an EVENT-time timeout (FlushMemory
      semantics). Event time, not wall clock, deliberately: a
      processing-time timeout makes the stateful operator demand a new
      micro-batch unconditionally (Spark runs empty batches forever and
      ``processAllAvailable`` never quiesces), and wall-clock flushes
      are nondeterministic across a cluster. The idle flush therefore
      advances with the DATA: any new input moves the watermark and
      sweeps out series that stopped ``flush_idle`` of event time ago.
      Tails of a fully stopped stream stay in checkpointed state (the
      WAL) and flush on the next batch after restart,
    - a tail exceeding ``max_tail_points`` is force-closed — the
      reference's buffer-capacity split (storage/mod.rs:53-58),
    - late cross-batch points keep the relaxed out-of-order contract:
      they fit into the held tail if they sort before it, otherwise they
      form overlapping segments resolved at read time (points later than
      ``watermark_delay`` behind the watermark may be dropped by the
      state operator, per standard Structured Streaming semantics).
    """
    import pickle

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from modelardb_rs_spark.compression.fitter import fit_series
    from modelardb_rs_spark.operators.compress import _assemble, check_finite
    from modelardb_rs_spark.types import segment_schema

    meta = engine.catalog.time_series_metadata(table)
    ts_col = meta.timestamp_column
    field_names = list(meta.field_names)
    bounds = [meta.field_columns[f] for f in field_names]
    tags = list(meta.tag_columns)
    out_schema = segment_schema(tags)
    state_schema = T.StructType([T.StructField("tail", T.BinaryType())])
    idle_ms = int(pd.Timedelta(flush_idle).total_seconds() * 1000)

    # The watermark column must be event-time typed; µs precision is
    # recovered pandas-side (datetime64 → int64) without a second scan.
    if dict(stream.dtypes)[ts_col] != "timestamp":
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    stream = stream.withWatermark(ts_col, watermark_delay)

    def _ts_us(series: pd.Series) -> "np.ndarray":
        return series.to_numpy().astype("datetime64[us]").astype(np.int64)

    def fit_with_state(key, pdf_iter, state):
        tag_values = dict(zip(tags, key)) if tags else {}
        tail = (
            pickle.loads(state.get[0])
            if state.exists
            else {f: (np.empty(0, np.int64), np.empty(0, np.float32)) for f in field_names}
        )
        if state.hasTimedOut:
            # idle flush: close every held tail
            parts = []
            for idx, (fname, bound) in enumerate(zip(field_names, bounds)):
                t_ts, t_v = tail[fname]
                if len(t_ts):
                    cols = fit_series(t_ts, t_v, bound)
                    parts.append((cols, idx, tag_values, len(cols["value_count"])))
            state.remove()
            if parts:
                yield _assemble(parts, tags)
            return

        batches = [pdf for pdf in pdf_iter if len(pdf)]
        for b in batches:
            check_finite(b, table, field_names)
        new_ts = (
            np.concatenate([_ts_us(b[ts_col]) for b in batches])
            if batches
            else np.empty(0, np.int64)
        )
        parts = []
        new_tail: dict = {}
        held = 0
        for idx, (fname, bound) in enumerate(zip(field_names, bounds)):
            t_ts, t_v = tail[fname]
            f_v = (
                np.concatenate([b[fname].to_numpy(np.float32) for b in batches])
                if batches
                else np.empty(0, np.float32)
            )
            ts_all = np.concatenate([t_ts, new_ts])
            v_all = np.concatenate([t_v, f_v])
            order = np.argsort(ts_all, kind="stable")
            ts_all, v_all = ts_all[order], v_all[order]
            if not len(ts_all):
                new_tail[fname] = (ts_all, v_all)
                continue
            cols = fit_series(ts_all, v_all, bound)
            n_seg = len(cols["value_count"])
            if len(ts_all) > max_tail_points or n_seg == 0:
                keep = 0  # buffer cap: force-close everything
            else:
                keep = int(cols["value_count"][-1])  # hold the open segment
            if keep:
                new_tail[fname] = (ts_all[-keep:], v_all[-keep:])
                cols = {k: v[:-1] for k, v in cols.items()}
            else:
                new_tail[fname] = (np.empty(0, np.int64), np.empty(0, np.float32))
            if len(cols["value_count"]):
                parts.append((cols, idx, tag_values, len(cols["value_count"])))
            held += len(new_tail[fname][0])
        if held:
            state.update((pickle.dumps(new_tail),))
            # Flush when the watermark passes this series' last point by
            # flush_idle; must stay strictly ahead of the current
            # watermark or Spark rejects the timestamp.
            last_ms = int(new_ts[-1] // 1000) if len(new_ts) else 0
            state.setTimeoutTimestamp(
                max(last_ms + idle_ms, state.getCurrentWatermarkMs() + 1)
            )
        elif state.exists:
            state.remove()
        if parts:
            yield _assemble(parts, tags)

    grouped = stream.groupBy(*[F.col(t) for t in tags]) if tags else stream.groupBy(F.lit(1))
    segs = grouped.applyInPandasWithState(
        fit_with_state,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        engine.folder.write_segments(meta, batch_df)

    writer = segs.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def windowed_rollup(
    stream: DataFrame,
    ts_col: str,
    value_col: str,
    keys: list[str],
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked event-time window aggregation over a raw point stream
    (count/sum/min/max/avg per window per key); rows later than the
    watermark are dropped per standard Structured Streaming semantics."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *keys)
        .agg(
            F.count("*").alias("n"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
            F.avg(value_col).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n",
            "sum_value",
            "min_value",
            "max_value",
            "avg_value",
        )
    )


def streaming_distinct_documents(
    stream: DataFrame,
    text_col: str = "text",
    watermark_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each document
    fingerprint across micro-batches (Spark's state store holds the seen
    set; with an event-time watermark the state ages out, bounding it
    for unbounded streams — without one it grows with distinct docs,
    which is the batch-identical semantics).

    The LLM-ingest shape: dedup at the door, before expensive
    downstream operators."""
    from modelardb_rs_spark.operators.text import fingerprint

    out = stream.withColumn("fingerprint", fingerprint(F.col(text_col)))
    if watermark_col is not None:
        return out.withWatermark(
            watermark_col, watermark
        ).dropDuplicatesWithinWatermark(["fingerprint"])
    return out.dropDuplicates(["fingerprint"])


def start_near_dup_ingest(
    engine,
    index_name: str,
    table: str,
    stream: DataFrame,
    checkpoint_dir: str,
    min_est_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Streaming corpus-level near-dedup at the door: each micro-batch
    is checked against the persisted MinHash signature index
    (operators/dedup_index.py), survivors land in ``table`` AND extend
    the index, duplicates are dropped. Within-batch near-dups are also
    collapsed (the batch is deduped against itself before the index
    grows). Exactly-once across restarts: foreachBatch is at-least-once,
    and the sink performs TWO appends (table, index), so each append
    carries a SetTransaction-style ``txn=(app_id, epoch)`` marker
    recorded ATOMICALLY in its commit (Delta PROTOCOL.md "Transaction
    Identifiers"); a replayed epoch is a no-op at the commit layer, and
    a crash window between the two commits redoes only the missing one
    (survivor computation is deterministic, so the replay regenerates
    the same rows). A per-epoch marker table additionally skips
    fully-processed batches before any recompute. Unlike probing for a
    representative doc id (the previous scheme), the txn gate is immune
    to id reuse and to ids redelivered with different text.

    This is the production shape of dedup: the corpus is never
    re-read — state is k signature strings per kept document, held in a
    table rather than the state store so it survives independently of
    the streaming query and is queryable/vacuumable like any table.
    """
    epochs_table = f"{table}__ingest_epochs"
    if epochs_table not in engine.tables():
        engine.create_table(epochs_table, "epoch BIGINT")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        near_dup_ingest_batch(
            engine, index_name, table, batch_df, epoch_id,
            min_est_jaccard, text_col, id_col,
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def vector_ingest_app_id(index_name: str, checkpoint_dir: str) -> str:
    """The SetTransaction app id ``start_vector_ingest`` records for a
    given (index, checkpoint) pair. Including the checkpoint path makes
    the id unique PER STREAM: two streams feeding the same index (or a
    stream whose checkpoint was deleted and recreated, restarting epoch
    ids at 0) get fresh replay-gate lineages instead of having their
    genuinely-new micro-batches misclassified as replays and silently
    dropped — the same reason Delta's ``txnAppId`` is caller-chosen.
    Exposed so tests / manual replays can target a live stream's gate."""
    import hashlib

    digest = hashlib.sha256(checkpoint_dir.encode("utf-8")).hexdigest()[:12]
    return f"vector_ingest::{index_name}::{digest}"


def start_vector_ingest(
    engine,
    index_name: str,
    stream: DataFrame,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    app_id: str | None = None,
    stats_every: int | None = 1,
    maintenance: dict | None = None,
    dedup: dict | None = None,
) -> StreamingQuery:
    """Streaming growth of a persisted IVF / IVF-PQ index
    (operators/ann_index.py): each micro-batch of (id, embedding) rows
    is coarse-assigned to the EXISTING centroids (classic IVF add —
    centroids and PQ codebooks stay fixed, so every open probe plan
    remains valid; rebuild when recall sags) and appended to the
    bucket-partitioned vectors table in ONE commit.

    Exactly-once with less machinery than ``start_near_dup_ingest``:
    that sink performs two appends and an expensive survivor
    computation, so it needs an epoch-marker table; this one is a
    single transactional append, so the ``txn=(app_id, epoch)`` replay
    gate recorded atomically with the commit is the whole story — a
    replayed micro-batch is a commit-layer no-op that launches no
    Spark job. Per-epoch small files are compacted by the append
    commit's compaction rule (``DataFolder._stage_and_commit``), whose
    OPTIMIZE keeps the ``ivf_bucket=`` layout, so probe-time file counts
    stay bounded over long-running streams.

    ``app_id`` defaults to ``vector_ingest_app_id(index_name,
    checkpoint_dir)`` — unique per stream, so concurrent streams into
    one index can't swallow each other's epochs. CHECKPOINT-RESET
    HAZARD: the replay gate is monotonic per app id; deleting a
    checkpoint restarts epoch ids at 0, so a RE-USED explicit
    ``app_id`` would classify the fresh stream's first epochs as
    replays and drop them. Resetting a checkpoint under the default id
    is safe only because the id is derived from the checkpoint PATH —
    reset to a NEW path (or pass a new ``app_id``) and the gate starts
    clean; re-creating the same path re-enters the old lineage.

    UPGRADE PATH from the pre-round-8 default id (the bare
    ``vector_ingest::<index>``, no checkpoint digest): a stream that
    restarts from its EXISTING checkpoint after the default changed
    re-runs its last committed micro-batch under the NEW id, whose gate
    has no record of it — a one-time duplicate append. To migrate a
    live stream, pass the old id explicitly (``app_id=
    f"vector_ingest::{index}"``) so the gate lineage is preserved, or
    rebuild the index; new streams need nothing.

    ``stats_every=N`` logs ``ann_index.ivf_index_stats(drift=False)``
    after every Nth applied epoch (None disables) — appended fraction,
    bucket imbalance, and live file count, the cheap metadata-only
    health numbers an operator alarms on to schedule a rebuild before
    recall sags (the drift pass stays on-demand: it is the one stat
    that costs a full scan).

    ``maintenance={...}`` closes that loop IN the stream: the kwargs
    are forwarded to ``ann_index.ivf_index_maintenance`` (e.g.
    ``{"max_appended_fraction": 0.3}``) after every ``stats_every``-th
    applied epoch — or every applied epoch when ``stats_every=None``
    (a configured policy is never silently inert) — so sustained
    ingest trips an automatic coarse-quantizer rebuild instead of
    waiting for an operator; the policy check reuses the cadence's
    already-computed stats, paying no second stats pass. The rebuild
    replaces the index tables atomically (conditional single-commit
    replace — open probe plans keep resolving a committed snapshot),
    and a lost race against ANOTHER writer into the same index
    (ConcurrentModificationError) is logged and retried at the next
    cadence tick rather than failing the stream; this stream's own
    appends can't race it — epochs serialize through the sink. A no-op
    policy check costs only the metadata stats queries.

    ``dedup={"threshold": t[, "nprobe": n]}`` adds the ONLINE SemDeDup
    admission gate (``ann_index.semantic_dedup_check``): each batch
    probes the index and drops vectors whose best indexed cosine clears
    ``t`` before appending, so the index only grows by semantically-new
    content — see ``vector_ingest_batch`` for the exact replay and
    within-batch semantics."""
    if app_id is None:
        app_id = vector_ingest_app_id(index_name, checkpoint_dir)

    # a configured maintenance policy must never be silently inert:
    # with stats logging disabled it still runs on every applied epoch
    cadence = stats_every or (1 if maintenance else None)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        res = vector_ingest_batch(
            engine, index_name, batch_df, epoch_id, id_col, vec_col,
            app_id=app_id, dedup=dedup,
        )
        if (
            cadence
            and not res.get("replayed")
            and res.get("appended", 0) > 0
            and int(epoch_id) % cadence == 0
        ):
            import logging

            from modelardb_rs_spark.operators.ann_index import ivf_index_stats

            log = logging.getLogger(__name__)
            # `is not None`, not truthiness: max_drift=0.0 is a valid
            # (always-trigger) threshold and must compute drift stats —
            # ivf_index_maintenance reads stats["max_centroid_drift"]
            # whenever its own max_drift is not None
            needs_drift = bool(
                maintenance and maintenance.get("max_drift") is not None
            )
            stats = ivf_index_stats(engine, index_name, drift=needs_drift)
            if stats_every:
                log.info(
                    "vector_ingest %s epoch %s: %s", index_name, epoch_id, stats
                )
            if maintenance:
                from modelardb_rs_spark.operators.ann_index import (
                    ivf_index_maintenance,
                )
                from modelardb_rs_spark.sources.datafolder import (
                    ConcurrentModificationError,
                )

                try:
                    # the just-computed stats ride along — the policy
                    # check costs no second stats pass
                    m = ivf_index_maintenance(
                        engine, index_name, id_col=id_col, vec_col=vec_col,
                        stats=stats, **maintenance,
                    )
                    if m["rebuilt"]:
                        log.info(
                            "vector_ingest %s epoch %s: index rebuilt (%s)",
                            index_name, epoch_id, "; ".join(m["reasons"]),
                        )
                except ConcurrentModificationError:
                    log.warning(
                        "vector_ingest %s epoch %s: maintenance replace lost a "
                        "race to a concurrent writer; retrying next cadence",
                        index_name, epoch_id,
                    )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def vector_ingest_batch(
    engine,
    index_name: str,
    batch_df: DataFrame,
    epoch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    app_id: str | None = None,
    dedup: dict | None = None,
) -> dict:
    """One micro-batch of the vector ingest — idempotent under replay
    (see start_vector_ingest). Factored out so replays are directly
    testable. ``app_id`` defaults to the bare per-index id for direct
    batch callers; streams pass their per-(index, checkpoint) id.

    ``dedup={"threshold": t[, "nprobe": n, ...]}`` gates admission
    through ``ann_index.semantic_dedup_check``: vectors whose best
    indexed cosine clears ``t`` are dropped BEFORE the append (the
    online SemDeDup gate — the index only grows by semantically-new
    content); extra keys (``within_batch``, ``max_bucket_rows``,
    ``prescreen``, ...) pass through to the gate. Replay-safe: the
    check is a read, the decision is deterministic in (batch, index
    snapshot), and the replay gate skips the whole epoch before the
    probe runs. Exact copies arriving within ONE batch collapse to
    their min-id representative (one vector-value groupBy) before the
    probe, and the gate's within-batch block (on by default) flags
    NEAR-dup pairs inside the batch too, so a burst of near-identical
    vectors admits exactly one row.
    The returned dict gains ``deduped`` (rows the GATE dropped — best
    indexed cosine cleared the threshold) and ``collapsed_exact``
    (rows the within-batch exact-duplicate groupBy collapsed), kept
    SEPARATE so gate-effectiveness audits don't over-count on bursty
    exact-duplicate traffic. Both counts come from the persisted
    ``checked`` frame, so the split costs one cache-read count, not a
    second probe."""
    from modelardb_rs_spark.operators import ann_index as ann
    from modelardb_rs_spark.operators.ann_index import _vectors_table

    if batch_df.isEmpty():
        return {"appended": 0, "replayed": False}
    if app_id is None:
        app_id = f"vector_ingest::{index_name}"
    deduped = collapsed_exact = 0
    if dedup is not None:
        # replay gate FIRST: a replayed epoch must not pay the probe
        prev = engine.last_txn_version(_vectors_table(index_name), app_id)
        if prev is not None and prev >= int(epoch_id):
            return {
                "appended": 0, "replayed": True,
                "deduped": 0, "collapsed_exact": 0,
            }
        total = batch_df.count()
        exact = (
            batch_df.groupBy(vec_col)
            .agg(F.min(F.col(id_col)).alias(id_col))
            .select(id_col, vec_col)
        )
        from pyspark import StorageLevel

        # persist the probe's verdicts: the admitted-count action, the
        # append job, and the append's geometry-swap retries all read
        # the ONE probe execution instead of re-running it (the dedup
        # decision depends on index CONTENT, which a rebuild does not
        # change, so a cached verdict stays valid across retries)
        # id_col/vec_col are forwarded explicitly from the function's
        # own args; a dedup dict naming DIFFERENT columns is a
        # misconfiguration that must not pass silently (the gate would
        # quietly run on the wrong columns)
        for col_key, col_val in (("id_col", id_col), ("vec_col", vec_col)):
            if col_key in dedup and dedup[col_key] != col_val:
                raise ValueError(
                    f"dedup[{col_key!r}]={dedup[col_key]!r} conflicts with "
                    f"{col_key}={col_val!r}; pass the column through the "
                    "function argument, not the dedup dict"
                )
        gate_opts = {
            k: v
            for k, v in dedup.items()
            if k not in ("threshold", "nprobe", "id_col", "vec_col")
        }
        checked = ann.semantic_dedup_check(
            engine, index_name, exact,
            threshold=float(dedup["threshold"]),
            nprobe=int(dedup.get("nprobe", 2)),
            id_col=id_col, vec_col=vec_col,
            **gate_opts,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        batch_df = checked.where(F.col("dup_of").isNull()).select(id_col, vec_col)
        # both counts read the persisted probe verdicts: the split of
        # gate drops vs exact collapse costs a cache scan, not a re-probe
        n_checked = checked.count()
        admitted = batch_df.count()
        deduped = n_checked - admitted
        collapsed_exact = total - n_checked
        if admitted == 0:
            checked.unpersist()
            ann.free_gate_blocks(checked)
            # commit an empty-epoch marker so the replay gate still
            # advances: without it a restart would re-probe this epoch
            engine.folder.log(_vectors_table(index_name)).commit(
                lambda snap: ("append", [], []), txn=(app_id, int(epoch_id))
            )
            return {
                "appended": 0, "replayed": False,
                "deduped": deduped, "collapsed_exact": collapsed_exact,
            }
    try:
        out = ann.append_to_ivf_index(
            engine,
            index_name,
            batch_df,
            id_col,
            vec_col,
            txn=(app_id, int(epoch_id)),
        )
    finally:
        if dedup is not None:
            checked.unpersist()
            # deterministic release of the gate's local-checkpointed
            # probe blocks — the epoch is over, nothing re-reads them
            ann.free_gate_blocks(checked)
    if dedup is not None:
        out["deduped"] = deduped
        out["collapsed_exact"] = collapsed_exact
    return out


def near_dup_ingest_batch(
    engine,
    index_name: str,
    table: str,
    batch_df: DataFrame,
    epoch_id: int,
    min_est_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the near-dup ingest — idempotent under replay
    (see start_near_dup_ingest). Factored out so crash-window replays
    are directly testable."""
    from modelardb_rs_spark.operators import dedup_index as ndi
    from modelardb_rs_spark.operators.dedup import minhash_dedup_pairs

    epochs_table = f"{table}__ingest_epochs"

    def _contains(tbl: str, col: str, val) -> bool:
        return (
            engine.table(tbl).where(F.col(col) == F.lit(val)).limit(1).count() > 0
        )

    if batch_df.isEmpty() or _contains(epochs_table, "epoch", int(epoch_id)):
        return
    batch_df = batch_df.localCheckpoint(eager=True)
    # collapse within-batch near-dups first (keep min id per pair)
    pairs = minhash_dedup_pairs(
        batch_df, threshold=min_est_jaccard, text_col=text_col, id_col=id_col
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    batch_df = batch_df.join(dropped, id_col, "left_anti")
    # then drop anything matching the stored corpus. On a replay where
    # the prior attempt finished the index append, the batch's own
    # signatures are in the index: every survivor self-hits, fresh is
    # empty, and only the marker below is (re)written.
    hits = ndi.near_dup_check(
        engine, index_name, batch_df, min_est_jaccard, text_col, id_col
    )
    fresh = batch_df.join(
        hits.select(id_col).distinct(), id_col, "left_anti"
    ).localCheckpoint(eager=True)
    if not fresh.isEmpty():
        # each append carries a txn=(app_id, epoch) marker committed
        # atomically with the data: a replay of the crash window between
        # the two commits redoes only the missing one (survivor
        # computation is deterministic), and a fully-landed append is a
        # no-op regardless of which doc ids the batch contains
        app = f"near_dup_ingest::{index_name}::{table}"
        engine.write(table, fresh, txn=(f"{app}::table", int(epoch_id)))
        ndi.append_to_minhash_index(
            engine, index_name, fresh, text_col, id_col,
            txn=(f"{app}::index", int(epoch_id)),
        )
    engine.write(
        epochs_table,
        rows_frame(engine.spark, [(int(epoch_id),)], "epoch BIGINT"),
    )
