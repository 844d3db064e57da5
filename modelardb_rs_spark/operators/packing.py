"""Sequence packing and stratified sampling — training-data batch prep.

``pack_documents`` is the GPT-style concat-and-chunk packer: documents
are laid end-to-end in a deterministic order (ascending id) and the
token stream is cut into fixed-length sequences; the output says which
token span of which document lands in which sequence. It needs a GLOBAL
cumulative token offset, which a naive ``Window.orderBy(id)`` computes
on a single partition — a non-starter at corpus scale. Here it is the
classic two-pass distributed prefix sum instead:

1. range-repartition by id (Spark samples split points; data stays
   sorted within partitions),
2. one narrow pass computes each PARTITION's token total (P rows to the
   driver — P is the partition count, not the corpus),
3. the driver prefix-sums those P totals into per-partition base
   offsets, broadcast back as a literal map,
4. a map-only pass adds base + within-partition cumsum, then each doc
   explodes into the sequences its span overlaps.

Wall-clock is two scans and one range shuffle regardless of corpus
size; no stage ever sees more than its own partition.

``stratified_sample`` extends text.deterministic_sample with per-group
rates (e.g. downsample English, keep all code) — the standard
language-balancing step. Map-only, hash-deterministic, exact-SQL
reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_rs_spark.frames import rows_frame
from modelardb_rs_spark.operators.text import token_count


def pack_documents(
    df: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_count_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-chunk packing: one output row per (document, sequence)
    overlap.

    Output columns: (id_col, seq_id, doc_token_start, doc_token_end,
    seq_token_start, n_tokens) — ``doc_token_*`` index into the
    document's own tokens (end exclusive), ``seq_token_start`` is where
    that slice begins inside sequence ``seq_id``. Documents with zero
    tokens are dropped (they contribute nothing to any sequence).
    Deterministic: the stream order is ascending ``id_col``.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    spark = df.sparkSession
    n_tok = (
        F.col(token_count_col)
        if token_count_col
        else token_count(F.col(text_col))
    ).cast("long")
    base = df.select(F.col(id_col), n_tok.alias("__n__")).where(F.col("__n__") > 0)
    P = num_partitions or spark.sparkContext.defaultParallelism
    parted = base.repartitionByRange(P, id_col).sortWithinPartitions(id_col)
    parted = parted.withColumn("__pid__", F.spark_partition_id())
    # pin the partition layout: both passes below must see the SAME
    # partition ids, so materialize the (id, n, pid) placement — two
    # longs + an int per doc — instead of trusting range-exchange
    # re-sampling to reproduce identical split points on re-execution
    from modelardb_rs_spark.operators.dedup import _truncate_lineage

    parted = _truncate_lineage(parted)

    # pass 1: per-partition token totals (P tiny rows) -> base offsets,
    # shipped back as a BROADCAST-joined P-row frame (a chained CASE
    # WHEN literal would nest P expressions deep — a plan blowup at
    # thousands of partitions; the tiny join is flat at any P)
    totals = {
        r["__pid__"]: r["t"]
        for r in parted.groupBy("__pid__").agg(F.sum("__n__").alias("t")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    offsets_df = rows_frame(spark, offsets, "__pid__ int, __base__ long")

    # pass 2: within-partition cumsum (bounded by one partition) + base
    from pyspark.sql import Window

    w = (
        Window.partitionBy("__pid__")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = parted.join(F.broadcast(offsets_df), "__pid__").select(
        id_col,
        "__n__",
        (F.col("__base__") + F.coalesce(F.sum("__n__").over(w), F.lit(0))).alias(
            "__start__"
        ),
    )
    # explode the doc's span into every sequence it overlaps
    first_seq = (F.col("__start__") / seq_len).cast("long")
    last_seq = ((F.col("__start__") + F.col("__n__") - 1) / seq_len).cast("long")
    L = F.lit(int(seq_len)).cast("long")
    out = placed.select(
        id_col,
        "__n__",
        "__start__",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    slice_lo = F.greatest(F.col("seq_id") * L, F.col("__start__"))
    slice_hi = F.least((F.col("seq_id") + 1) * L, F.col("__start__") + F.col("__n__"))
    result = out.select(
        id_col,
        "seq_id",
        (slice_lo - F.col("__start__")).alias("doc_token_start"),
        (slice_hi - F.col("__start__")).alias("doc_token_end"),
        (slice_lo - F.col("seq_id") * L).alias("seq_token_start"),
        (slice_hi - slice_lo).alias("n_tokens"),
    )
    # The grand token total is already on the driver (pass 1's collect),
    # so the sequence count N = maxSeqId+1 is known WITHOUT another
    # corpus pass. Stash it on the returned frame: downstream consumers
    # that need N (export_training_shards' shard arithmetic) read the
    # attribute instead of re-executing the whole span chain for one
    # max() — at scale that pass is a full window+explode+distinct over
    # the pack input. Purely advisory metadata derived from the same
    # plan; absent after further transformations, in which case
    # consumers fall back to the aggregate.
    result.n_sequences = (acc - 1) // seq_len + 1 if acc > 0 else 0
    return result


def materialize_sequences(
    packed: DataFrame,
    token_table: DataFrame,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
) -> DataFrame:
    """Turn ``pack_documents``'s span table into the ACTUAL training
    sequences: for each (document, sequence) overlap row, slice that
    document's token-id array to its span and reassemble each sequence
    in ``seq_token_start`` order. Output: (seq_id, token_ids,
    seq_len) — what a training dataloader reads.

    Scale shape: one equi-join of the span table to the (id, token
    ids) table on the document key, a map-only per-row slice, and one
    groupBy per sequence whose payload is exactly the sequence length
    — never a document-sized row, never a global sort; every sequence
    assembles independently. ``token_table`` carries (id_col,
    ids_col); callers with text feed it through
    ``bpe.encode_documents`` first."""
    spans = packed.join(token_table.select(id_col, ids_col), id_col).select(
        "seq_id",
        "seq_token_start",
        F.slice(
            F.col(ids_col), F.col("doc_token_start") + 1, F.col("n_tokens")
        ).alias("__span__"),
    )
    result = (
        spans.groupBy("seq_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("seq_token_start", "__span__"))
            ).alias("__s__")
        )
        .select(
            "seq_id",
            F.flatten(F.transform("__s__", lambda s: s["__span__"])).alias(
                "token_ids"
            ),
        )
        .withColumn("seq_len", F.size("token_ids"))
    )
    # propagate pack_documents' driver-known sequence count (see there):
    # every packed seq_id survives materialization (the join keys exist
    # by construction in any well-formed token table), so N is unchanged
    n = getattr(packed, "n_sequences", None)
    if n is not None:
        result.n_sequences = n
    return result


def export_training_shards(
    sequences: DataFrame,
    path: str,
    n_shards: int,
    seq_col: str = "seq_id",
    ids_col: str = "token_ids",
    rows_per_file: int | None = None,
) -> DataFrame:
    """Write ``materialize_sequences`` output as per-shard parquet in
    training order — the handoff a trainer's dataloader actually reads.
    ``W`` dataloader workers each stream one ``path/shard=S/`` directory
    top-to-bottom with no further shuffle or sort; within a shard the
    stream is file directories ``file_seq=0,1,...`` in order, rows
    ascending ``seq_col`` inside each file, so concatenating files in
    ``file_seq`` order reproduces the shard's slice of the global
    training order exactly.

    Sharding is the deterministic contiguous split
    ``shard = (seq_id * n_shards) DIV N`` with ``N = max(seq_id)+1``
    (``pack_documents`` emits contiguous seq ids 0..N-1, so shard sizes
    differ by at most one and concatenating shards 0..W-1 reproduces the
    exact global order). The division is EXACT integer floor division —
    a float path would round a quotient of k-eps up to k once 1/N drops
    below a double ulp and misplace boundary rows at extreme scale.

    ``rows_per_file`` decouples FILE size from the dataloader's ``W``
    (without it, a shard is tokens/W — 100s of GB at trainer scale —
    written as one file by one task, a wall-clock and object-store
    ceiling): each shard splits into contiguous ``file_seq`` slices of
    at most ``rows_per_file`` sequences, every (shard, file_seq) group
    is written BY ITS OWN TASK in parallel, and per-file size is bounded
    independently of ``W``. ``rows_per_file=None`` keeps the one-file-
    per-shard layout (``file_seq`` is 0 everywhere in the manifest).

    The write is one hash exchange on the (shard, file_seq) key + a
    within-partition sort whose leading columns ARE the partition
    columns — that satisfies the partitioned writer's required ordering
    statically, so Spark inserts no implicit re-sort and the physical
    row order inside each file is exactly the sort order (not an
    artifact of the writer's sort being stable).

    Returns a verification manifest computed by READING BACK the written
    files (not from the input plan): one row per (shard, file_seq) with
    ``n_sequences``, ``n_tokens``, ``first_seq_id``/``last_seq_id``, and
    ``file_md5`` — a digest over the file's ``seq_id:md5(token_ids)``
    pairs in ascending seq order. The manifest proves CONTENT (every
    token id of every sequence), file BOUNDARIES, and CROSS-FILE order
    (adjacent files' seq ranges abut); it is deliberately insensitive
    to physical row order WITHIN a file (the digest sorts by seq_id
    first), so in-file order is pinned separately by the pyarrow
    read-back test (tests/test_packing.py reads the raw files without
    Spark), not by this digest. Each digest aggregates 32-byte
    per-sequence digests (computed map-side), never the token payload —
    the manifest pass stays safe at any shard size."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if rows_per_file is not None and rows_per_file <= 0:
        raise ValueError(f"rows_per_file must be positive, got {rows_per_file}")
    spark = sequences.sparkSession
    # pack_documents/materialize_sequences stash the driver-known
    # sequence count on the frame (attribute, see pack_documents) —
    # when present it IS max(seq_id)+1 and the aggregate below would
    # re-execute the whole span chain just to recompute it
    n = getattr(sequences, "n_sequences", None)
    if n == 0:
        raise ValueError("export_training_shards: no sequences to export")
    if n is None:
        n = sequences.agg(F.max(seq_col)).first()[0]
        if n is None:
            raise ValueError("export_training_shards: no sequences to export")
        n = int(n) + 1
    n = int(n)
    # more shards than sequences would leave EMPTY shard ids with no
    # directory on disk — a reader iterating shard=0..W-1 would fail on
    # the gaps; clamp so every exported shard directory exists
    n_shards = min(n_shards, n)
    sid = f"CAST({seq_col} AS BIGINT)"
    shard = F.expr(f"CAST(({sid} * {n_shards}) DIV {n} AS INT)")
    staged = sequences.withColumn("shard", shard)
    if rows_per_file is None:
        (
            staged.repartition(n_shards, "shard")
            .sortWithinPartitions("shard", seq_col)
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path)
        )
        back = spark.read.parquet(path).withColumn("file_seq", F.lit(0))
    else:
        # first seq id of shard s is ceil(s*N/W); the file index within
        # the shard is then a contiguous integer slice — all exact
        # integer arithmetic, reproducible by any SQL engine
        first_of_shard = f"((CAST(shard AS BIGINT) * {n} + {n_shards - 1}) DIV {n_shards})"
        file_seq = F.expr(
            f"CAST(({sid} - {first_of_shard}) DIV {int(rows_per_file)} AS INT)"
        )
        staged = staged.withColumn("file_seq", file_seq)
        n_files_est = n_shards + (n + int(rows_per_file) - 1) // int(rows_per_file)
        (
            staged.repartition(n_files_est, "shard", "file_seq")
            .sortWithinPartitions("shard", "file_seq", seq_col)
            .write.mode("overwrite")
            .partitionBy("shard", "file_seq")
            .parquet(path)
        )
        back = spark.read.parquet(path)
    # Guard the n_sequences ATTRIBUTE path (advisory metadata — see
    # pack_documents): if the attribute overstated N (a token table
    # silently missing docs makes materialize_sequences' inner join
    # lossy), the empty-shard clamp above under-clamped and the write
    # just produced shard ids with NO directory — the exact gap a
    # dataloader iterating shard=0..W-1 trips on. One driver-side
    # listing (no job) catches it loudly instead of exporting a
    # corrupt layout.
    import os
    import re as _re

    try:
        from urllib.parse import urlparse

        local = urlparse(path).path if path.startswith("file:") else path
        present = {
            int(m.group(1))
            for d in (os.listdir(local) if os.path.isdir(local) else [])
            for m in [_re.match(r"shard=(\d+)$", d)]
            if m
        }
    except OSError:
        present = None  # non-local path: listing handled by the manifest
    if present is not None and present and present != set(range(n_shards)):
        raise ValueError(
            f"export_training_shards: wrote shards {sorted(present)} but "
            f"expected 0..{n_shards - 1} — the driver-known sequence "
            "count overstated max(seq_id)+1 (token table missing "
            "documents?); re-export with a trusted count"
        )
    back = back.select(
        "shard",
        F.col("file_seq").cast("int").alias("file_seq"),
        F.col(seq_col).alias("__sid__"),
        F.size(ids_col).cast("long").alias("__len__"),
        F.md5(
            F.concat_ws(
                ",", F.transform(ids_col, lambda x: x.cast("string"))
            ).cast("binary")
        ).alias("__d__"),
    )
    return (
        back.groupBy("shard", "file_seq")
        .agg(
            F.count("*").cast("long").alias("n_sequences"),
            F.sum("__len__").cast("long").alias("n_tokens"),
            F.min("__sid__").alias("first_seq_id"),
            F.max("__sid__").alias("last_seq_id"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__sid__", "__d__"))
                        ),
                        lambda s: F.concat_ws(
                            ":", s["__sid__"].cast("string"), s["__d__"]
                        ),
                    ),
                ).cast("binary")
            ).alias("file_md5"),
        )
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Keep each row with its stratum's probability, hash-deterministic
    (stable across runs/partitionings/engines, exact SQL oracle).
    ``rates`` maps stratum value -> keep fraction in [0, 1]; strata not
    listed use ``default_rate``. Map-only."""
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0, 1], got {v}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    rate = F.lit(float(default_rate))
    for k, v in rates.items():
        rate = F.when(F.col(strata_col) == F.lit(k), F.lit(float(v))).otherwise(rate)
    return df.where(bucket < (rate * 1_000_000).cast("long"))
