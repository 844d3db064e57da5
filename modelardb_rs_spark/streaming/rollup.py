"""Continuous rollups — an incrementally-maintained downsample table
(the TimescaleDB continuous-aggregate / materialized-rollup shape; the
reference has no equivalent, its only aggregation path is per-query).

Design for scale: each micro-batch appends PARTIAL aggregates
(count/sum/sum_sq/min/max per (bucket, keys)) to a normal engine table —
append-only through the transactional commit log, so there is no
read-modify-write race between the stream and readers, and concurrent
writers stay safe. Reads merge the partials with one groupBy (partials
form a commutative monoid). ``compact_rollup`` folds accumulated
partials down to one row per (bucket, keys) to bound table growth; a
compaction is two commits (truncate + write) and reads between them see
either the old partials or the merged rows — both aggregate to the same
answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def rollup_schema(keys: list[str]) -> T.StructType:
    fields = [T.StructField("bucket", T.TimestampType(), False)]
    fields += [T.StructField(k, T.StringType(), True) for k in keys]
    fields += [
        T.StructField("cnt", T.LongType(), False),
        T.StructField("sum", T.DoubleType(), False),
        T.StructField("sum_sq", T.DoubleType(), False),
        T.StructField("min", T.DoubleType(), False),
        T.StructField("max", T.DoubleType(), False),
        # foreachBatch epoch id: makes the at-least-once sink idempotent
        # (a replayed batch is detected and skipped); NULL on compacted rows
        T.StructField("batch_id", T.LongType(), True),
    ]
    return T.StructType(fields)


def rollup_partials(
    batch: DataFrame,
    ts_col: str,
    value_col: str,
    keys: list[str],
    bucket_us: int,
) -> DataFrame:
    """One batch's partial aggregate rows."""
    B = int(bucket_us)
    dt = dict(batch.dtypes)[ts_col]
    t_us = F.col(ts_col) if dt == "bigint" else F.unix_micros(F.col(ts_col))
    v = F.col(value_col).cast("double")
    return (
        batch.select(
            F.timestamp_micros(t_us - F.pmod(t_us, F.lit(B))).alias("bucket"),
            *[F.col(k).cast("string").alias(k) for k in keys],
            v.alias("__v__"),
        )
        .groupBy("bucket", *keys)
        .agg(
            F.count("*").alias("cnt"),
            F.sum("__v__").alias("sum"),
            F.sum(F.col("__v__") * F.col("__v__")).alias("sum_sq"),
            F.min("__v__").alias("min"),
            F.max("__v__").alias("max"),
        )
    )


def create_rollup(engine, table: str, keys: list[str]) -> None:
    """Create the backing normal table for a rollup."""
    engine.create_table(table, rollup_schema(keys))


def append_batch(
    engine,
    table: str,
    batch_df: DataFrame,
    epoch_id: int,
    ts_col: str,
    value_col: str,
    keys: list[str],
    bucket_us: int,
) -> bool:
    """One micro-batch's partial append. foreachBatch is at-least-once:
    a crash between the table commit and the checkpoint write replays
    the batch — the recorded batch_id makes the replay a no-op instead
    of a permanent double-count. Returns False for a skipped replay."""
    already = (
        engine.table(table)
        .where(F.col("batch_id") == F.lit(int(epoch_id)))
        .limit(1)
        .count()
    )
    if already:
        return False
    part = rollup_partials(batch_df, ts_col, value_col, keys, bucket_us)
    engine.write(table, part.withColumn("batch_id", F.lit(int(epoch_id))))
    return True


def start_continuous_rollup(
    engine,
    stream: DataFrame,
    table: str,
    ts_col: str,
    value_col: str,
    keys: list[str],
    every,
    checkpoint: str,
    trigger_available_now: bool = False,
):
    """Attach a rollup sink to a streaming points DataFrame: every
    micro-batch appends its partial aggregates to ``table`` (created if
    absent). Returns the StreamingQuery."""
    from modelardb_rs_spark.engine import _interval_us

    bucket_us = _interval_us(every)
    if table not in engine.tables():
        create_rollup(engine, table, keys)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        append_batch(engine, table, batch_df, epoch_id, ts_col, value_col, keys, bucket_us)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_rollup(engine, table: str, keys: list[str]) -> DataFrame:
    """Merged view: one row per (bucket, keys) with final
    count/sum/avg/min/max/var_pop (partials form a monoid)."""
    p = engine.table(table)
    n = F.sum("cnt").cast("double")
    s = F.sum("sum")
    m2 = F.greatest(F.sum("sum_sq") - s * s / n, F.lit(0.0))
    return p.groupBy("bucket", *keys).agg(
        F.sum("cnt").alias("cnt"),
        s.alias("sum"),
        (s / n).alias("avg"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        (m2 / n).alias("var_pop"),
    )


def compact_rollup(engine, table: str, keys: list[str]) -> None:
    """Fold accumulated partials to one row per (bucket, keys). Fully
    distributed: the merged rows are materialized into a staging table
    first (truncating before writing from a lazy plan over the same
    table would read back the truncation), then truncate + append +
    drop staging — each step an atomic commit, and the rollup
    aggregates to the same answer at every intermediate state except
    between truncate and append (run compaction when the stream is
    quiesced, or accept a brief window of missing history)."""
    staging = f"{table}__compacting"
    if staging in engine.tables():
        engine.drop(staging)
    create_rollup(engine, staging, keys)
    # pin the source at the current commit-log version: the merge reads
    # a frozen snapshot, and the concurrent-append guard below is a
    # VERSION comparison — no collect() of batch ids, so guard cost
    # stays constant no matter how many uncompacted batches accumulated
    v0 = engine.folder.log(table).snapshot().version
    src = engine.table(table, version=v0)
    merged = src.groupBy("bucket", *keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum").alias("sum"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    ).withColumn("batch_id", F.lit(None).cast("long"))
    engine.write(staging, merged)
    # a stream may have appended while we merged: refuse rather than
    # silently discard those partials with the truncate
    if engine.folder.log(table).snapshot().version != v0:
        engine.drop(staging)
        raise RuntimeError(
            f"rollup {table!r} received new commits during compaction; "
            "quiesce the stream and retry"
        )
    engine.truncate(table)
    engine.write(table, engine.table(staging))
    engine.drop(staging)
