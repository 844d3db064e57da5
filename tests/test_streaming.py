"""Streaming ingestion tests: file-source micro-batches compress into a
time series table incrementally; windowed rollup produces event-time
aggregates with a watermark."""

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from modelardb_rs_spark.streaming.ingest import (
    start_ingest,
    start_stateful_ingest,
    windowed_rollup,
)

TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("f", T.FloatType(), True),
        T.StructField("tag", T.StringType(), True),
    ]
)


def batch_rows(spark, start, n):
    return spark.createDataFrame(
        [
            Row(
                timestamp=TS0 + datetime.timedelta(seconds=start + i),
                f=float(start + i),
                tag="s" + str((start + i) % 2),
            )
            for i in range(n)
        ],
        INPUT_SCHEMA,
    )


def test_streaming_ingest_incremental(engine, spark, tmp_path):
    engine.read_sql("CREATE TIME SERIES TABLE st(timestamp TIMESTAMP, f FIELD, tag TAG)")
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    batch_rows(spark, 0, 100).repartition(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(src)
    q = start_ingest(engine, "st", stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        assert engine.table("st").count() == 100
        batch_rows(spark, 100, 50).repartition(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        assert engine.table("st").count() == 150
    finally:
        q.stop()
    # lossless round trip through the streamed segments
    total = engine.read_sql("SELECT sum(f) AS s FROM st").collect()[0].s
    assert total == sum(range(150))


def constant_rows(spark, start, n, tag="a"):
    return spark.createDataFrame(
        [
            Row(
                timestamp=TS0 + datetime.timedelta(seconds=start + i),
                f=1.0,
                tag=tag,
            )
            for i in range(n)
        ],
        INPUT_SCHEMA,
    )


def test_stateful_ingest_no_batch_boundary_splits(engine, spark, tmp_path):
    """Cross-batch state: a constant series split over two micro-batches
    must land as ONE segment (per-batch compression would emit two), and
    the event-time idle timeout flushes the held tail once the watermark
    passes it — driven by data, no wall-clock sleeps."""
    engine.read_sql("CREATE TIME SERIES TABLE sst(timestamp TIMESTAMP, f FIELD, tag TAG)")
    src = str(tmp_path / "sst_in")
    os.makedirs(src)
    # one file per write: with maxFilesPerTrigger=1 each file IS a
    # micro-batch, and file order = event-time order so the 0-second
    # watermark drops nothing
    constant_rows(spark, 0, 50).repartition(1).write.mode("append").parquet(src)
    constant_rows(spark, 50, 50).repartition(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_stateful_ingest(
        engine, "sst", stream, str(tmp_path / "sst_ckpt"), flush_idle="5 seconds"
    )
    try:
        q.processAllAvailable()
        # both batches consumed; the open segment is still held in state
        assert engine.table("sst").count() == 0
        # a later point for another series advances the watermark past
        # tag=a's last point + flush_idle → its held tail flushes
        constant_rows(spark, 120, 1, tag="other").repartition(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = engine.table("sst").where(F.col("tag") == "a")
    assert got.count() == 100
    # one PMC segment for 100 constant points spanning both micro-batches
    segs = engine.segments("sst").where(F.col("tag") == "a").collect()
    assert len(segs) == 1
    assert segs[0].value_count == 100
    # lossless reconstruction
    assert engine.table("sst").where(F.col("tag") == "a").agg(F.sum("f")).first()[0] == 100.0


def test_stateful_ingest_rejects_non_finite_values(engine, spark, tmp_path):
    """A micro-batch holding NaN fails the stateful query with the same
    error as the batch write paths, and nothing is committed."""
    from pyspark.errors import StreamingQueryException

    engine.read_sql("CREATE TIME SERIES TABLE snan(timestamp TIMESTAMP, f FIELD, tag TAG)")
    version = engine.folder.log("snan").snapshot().version
    src = str(tmp_path / "snan_in")
    os.makedirs(src)
    rows = [Row(timestamp=TS0 + datetime.timedelta(seconds=i),
                f=float("nan") if i == 7 else float(i), tag="a") for i in range(20)]
    spark.createDataFrame(rows, INPUT_SCHEMA).repartition(1).write.parquet(src, mode="append")
    q = start_stateful_ingest(
        engine, "snan", spark.readStream.schema(INPUT_SCHEMA).parquet(src),
        str(tmp_path / "snan_ckpt"),
    )
    try:
        with pytest.raises(StreamingQueryException, match="holds NaN or infinite values"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert engine.folder.log("snan").snapshot().version == version


def test_windowed_rollup(spark, tmp_path):
    src = str(tmp_path / "win_in")
    os.makedirs(src)
    batch_rows(spark, 0, 600).repartition(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(src)
    agg = windowed_rollup(stream, "timestamp", "f", ["tag"], window="5 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rollup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM rollup_out").collect()
    finally:
        q.stop()
    # 600 seconds of data -> two 5-minute windows x two tags
    assert len(rows) == 4
    assert {r.n for r in rows} == {150}
    assert all(r.window_end > r.window_start for r in rows)


def test_stateful_ingest_recovers_tail_across_restart(engine, spark, tmp_path):
    """The streaming checkpoint is the WAL: a held (uncommitted) segment
    tail survives a query stop/restart and flushes afterwards — no point
    is lost even though nothing was written to the table before the
    stop."""
    engine.read_sql("CREATE TIME SERIES TABLE rst(timestamp TIMESTAMP, f FIELD, tag TAG)")
    src = str(tmp_path / "rst_in")
    os.makedirs(src)
    constant_rows(spark, 0, 80).repartition(1).write.mode("append").parquet(src)

    def start():
        stream = (
            spark.readStream.schema(INPUT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return start_stateful_ingest(
            engine, "rst", stream, str(tmp_path / "rst_ckpt"), flush_idle="5 seconds"
        )

    q = start()
    try:
        q.processAllAvailable()
        assert engine.table("rst").count() == 0  # tail held in state only
    finally:
        q.stop()

    q = start()  # same checkpoint: state store restores the held tail
    try:
        constant_rows(spark, 100, 1, tag="other").repartition(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = engine.table("rst").where(F.col("tag") == "a")
    assert got.count() == 80
    segs = engine.segments("rst").where(F.col("tag") == "a").collect()
    assert len(segs) == 1 and segs[0].value_count == 80


def test_continuous_rollup_partials_merge_and_compact(engine, spark):
    """Partial-aggregate appends from two batches merge to the exact
    batch answer; compaction folds rows without changing the answer."""
    import datetime

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from modelardb_rs_spark.streaming.rollup import (
        compact_rollup,
        read_rollup,
        rollup_partials,
        create_rollup,
    )

    t0 = datetime.datetime(2024, 5, 1, tzinfo=datetime.timezone.utc)
    rows = [
        Row(ts=t0 + datetime.timedelta(minutes=7 * i), value=float(i % 13), k="a" if i % 2 else "b")
        for i in range(300)
    ]
    df = spark.createDataFrame(rows)
    create_rollup(engine, "r5", ["k"])
    half = 150
    for i, batch in enumerate((df.limit(half), df.subtract(df.limit(half)))):
        engine.write(
            "r5",
            rollup_partials(batch, "ts", "value", ["k"], 3_600_000_000).withColumn(
                "batch_id", F.lit(i)
            ),
        )
    merged = {
        (r.bucket, r.k): (r.cnt, round(r.sum, 6), round(r.avg, 6), r.min, r.max, round(r.var_pop, 6))
        for r in read_rollup(engine, "r5", ["k"]).collect()
    }
    ref = {
        (r.bucket, r.k): (r.cnt, round(r.s, 6), round(r.a, 6), r.mn, r.mx, round(r.vp, 6))
        for r in df.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "k")
        .agg(
            F.count("*").alias("cnt"), F.sum("value").alias("s"), F.avg("value").alias("a"),
            F.min("value").alias("mn"), F.max("value").alias("mx"), F.var_pop("value").alias("vp"),
        )
        .collect()
    }
    assert merged == ref and len(ref) > 10
    n_before = engine.table("r5").count()
    compact_rollup(engine, "r5", ["k"])
    assert engine.table("r5").count() < n_before
    merged2 = {
        (r.bucket, r.k): (r.cnt, round(r.sum, 6), round(r.avg, 6), r.min, r.max, round(r.var_pop, 6))
        for r in read_rollup(engine, "r5", ["k"]).collect()
    }
    assert merged2 == merged


def test_continuous_rollup_replayed_batch_is_skipped(engine, spark):
    """At-least-once replay of the same epoch must not double-count."""
    import datetime

    from pyspark.sql import Row

    from modelardb_rs_spark.streaming.rollup import (
        append_batch,
        create_rollup,
        read_rollup,
    )

    t0 = datetime.datetime(2024, 6, 1, tzinfo=datetime.timezone.utc)
    df = spark.createDataFrame(
        [Row(ts=t0 + datetime.timedelta(minutes=i), value=1.0, k="a") for i in range(30)]
    )
    create_rollup(engine, "r6", ["k"])
    assert append_batch(engine, "r6", df, 7, "ts", "value", ["k"], 3_600_000_000)
    # replay of the same epoch id is detected and skipped
    assert not append_batch(engine, "r6", df, 7, "ts", "value", ["k"], 3_600_000_000)
    rows = read_rollup(engine, "r6", ["k"]).collect()
    assert len(rows) == 1 and rows[0].cnt == 30


def test_streaming_near_dup_ingest(spark, engine, tmp_path):
    """Micro-batches dedup against the persisted corpus index: exact
    behaviors — within-batch collapse, cross-batch drop, survivors
    extend both the table and the index."""
    from modelardb_rs_spark.operators.dedup_index import build_minhash_index
    from modelardb_rs_spark.streaming.ingest import start_near_dup_ingest

    base = "the quick brown fox jumps over the lazy dog once more " * 5
    other = "completely different material about columnar engines " * 5
    engine.create_table("docs_clean", "doc_id BIGINT, text STRING")
    build_minhash_index(
        engine, "sndi",
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
    )

    src = str(tmp_path / "nd_in")
    os.makedirs(src)
    # batch 1: a near-dup of the indexed doc, two copies of a new doc
    spark.createDataFrame(
        [
            (10, base + " tail"),
            (11, other),
            (12, other + " tweak"),
        ],
        "doc_id long, text string",
    ).repartition(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = start_near_dup_ingest(
        engine, "sndi", "docs_clean", stream, str(tmp_path / "nd_ckpt")
    )
    try:
        q.processAllAvailable()
        kept1 = {r["doc_id"] for r in engine.table("docs_clean").collect()}
        assert kept1 == {11}  # 10 matched corpus, 12 collapsed into 11
        # batch 2: near-dup of doc 11 (now in the index) + a fresh doc
        spark.createDataFrame(
            [(20, other + " second tweak"), (21, "entirely novel words here " * 8)],
            "doc_id long, text string",
        ).repartition(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    kept = {r["doc_id"] for r in engine.table("docs_clean").collect()}
    assert kept == {11, 21}


def test_near_dup_ingest_replay_is_idempotent(spark, engine):
    """foreachBatch is at-least-once: a crash between the table append
    and the index append must not duplicate rows when the batch
    replays, and a fully-processed epoch must be skipped outright."""
    from modelardb_rs_spark.operators import dedup_index as ndi
    from modelardb_rs_spark.operators.dedup_index import build_minhash_index
    from modelardb_rs_spark.streaming.ingest import near_dup_ingest_batch

    base = "the quick brown fox jumps over the lazy dog once more " * 5
    engine.create_table("docs_r", "doc_id BIGINT, text STRING")
    engine.create_table("docs_r__ingest_epochs", "epoch BIGINT")
    build_minhash_index(
        engine, "rndi",
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
    )
    batch = spark.createDataFrame(
        [(10, "totally novel content about streams " * 8)],
        "doc_id long, text string",
    )

    # crash window: table append commits, index append raises
    real_append = ndi.append_to_minhash_index
    calls = {"n": 0}

    def crashing_append(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash between the two commits")
        return real_append(*a, **kw)

    ndi.append_to_minhash_index = crashing_append
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            near_dup_ingest_batch(engine, "rndi", "docs_r", batch, 0)
        assert engine.table("docs_r").count() == 1  # docs landed
        assert engine.table("docs_r__ingest_epochs").count() == 0  # no marker
        # replay of the same epoch: no duplicate doc, index catches up
        near_dup_ingest_batch(engine, "rndi", "docs_r", batch, 0)
    finally:
        ndi.append_to_minhash_index = real_append
    assert engine.table("docs_r").count() == 1
    sigs = engine.table("rndi__sigs")
    assert sigs.where(F.col("doc_id") == 10).count() == 1
    assert engine.table("docs_r__ingest_epochs").collect()[0]["epoch"] == 0
    # a third delivery (marker present) is a pure no-op
    near_dup_ingest_batch(engine, "rndi", "docs_r", batch, 0)
    assert engine.table("docs_r").count() == 1
    assert sigs.where(F.col("doc_id") == 10).count() == 1


def test_near_dup_ingest_id_reuse_does_not_drop_batch(spark, engine):
    """The replay gate must be batch-specific, not doc-id-specific: a
    LATER epoch whose min surviving doc_id already exists in the table
    (id reuse / redelivery with different text) must still append — a
    doc-id probe would mistake it for an already-landed replay and
    silently drop every survivor in the batch."""
    from modelardb_rs_spark.operators.dedup_index import build_minhash_index
    from modelardb_rs_spark.streaming.ingest import near_dup_ingest_batch

    engine.create_table("docs_ru", "doc_id BIGINT, text STRING")
    engine.create_table("docs_ru__ingest_epochs", "epoch BIGINT")
    build_minhash_index(
        engine, "rundi",
        spark.createDataFrame(
            [(1, "seed corpus text entirely unlike the batches " * 5)],
            "doc_id long, text string",
        ),
    )
    b0 = spark.createDataFrame(
        [(10, "first epoch content about rivers and maps " * 8)],
        "doc_id long, text string",
    )
    near_dup_ingest_batch(engine, "rundi", "docs_ru", b0, 0)
    assert engine.table("docs_ru").count() == 1
    # epoch 1 reuses doc_id 10 with unrelated (non-near-dup) text, plus
    # a second fresh doc — both must land
    b1 = spark.createDataFrame(
        [
            (10, "second epoch reuses the id with prose on volcanoes " * 8),
            (20, "another brand new document about glaciers melting " * 8),
        ],
        "doc_id long, text string",
    )
    near_dup_ingest_batch(engine, "rundi", "docs_ru", b1, 1)
    rows = engine.table("docs_ru").collect()
    assert len(rows) == 3
    assert sorted(r["doc_id"] for r in rows) == [10, 10, 20]


def test_auto_optimize_keeps_streaming_file_count_flat(engine, spark, tmp_path, monkeypatch):
    """Long-running ingest must not accumulate unbounded small files:
    once the mergeable-file threshold is crossed the append compacts,
    live file count drops, and the read plan's input stays bounded —
    with results unchanged (SCALE.md names OPTIMIZE as the lever that
    keeps plan-time flat at 1000x file counts; this makes it automatic)."""
    import modelardb_rs_spark.sources.datafolder as dfm

    engine.read_sql("CREATE TIME SERIES TABLE ao(timestamp TIMESTAMP, f FIELD, tag TAG)")
    monkeypatch.setattr(dfm, "COMPACT_MIN_MERGEABLE", 6)
    src = str(tmp_path / "ao_incoming")
    os.makedirs(src)
    stream = (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ingest(engine, "ao", stream, str(tmp_path / "ao_ckpt"))
    try:
        for b in range(12):  # 12 commits, threshold 6: compaction fires
            batch_rows(spark, b * 50, 50).repartition(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()
    history = engine.folder.history("ao")
    assert any(h["op"] == "optimize" for h in history), [h["op"] for h in history]
    live_files = len(engine.folder.log("ao").snapshot().files)
    assert live_files < 12, live_files
    assert engine.table("ao").count() == 600
    total = engine.read_sql("SELECT sum(f) AS s FROM ao").collect()[0].s
    assert total == sum(range(600))


def test_maybe_optimize_below_threshold_is_noop(engine, spark, monkeypatch):
    """Appends below the mergeable-file threshold never compact."""
    import modelardb_rs_spark.sources.datafolder as dfm

    engine.create_table("mo", "id BIGINT")
    monkeypatch.setattr(dfm, "COMPACT_MIN_MERGEABLE", 10)
    for i in range(3):
        engine.write("mo", spark.createDataFrame([(i,)], "id long"))
    assert len(engine.folder.history("mo")) == 3  # no optimize commit


def test_streaming_vector_ingest(spark, engine, tmp_path):
    """Micro-batches grow a persisted IVF index through a real streaming
    query; appended vectors are probeable; a replayed epoch is a no-op."""
    from modelardb_rs_spark.operators import ann_index
    from modelardb_rs_spark.sources.testdata import load_table
    from modelardb_rs_spark.streaming.ingest import (
        start_vector_ingest,
        vector_ingest_app_id,
        vector_ingest_batch,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    first = emb.where(F.col("vec_id") < 400).select("vec_id", "embedding")
    ann_index.build_ivf_index(engine, "svidx", first, bucket_col=None, n_buckets=4)

    src = str(tmp_path / "vec_in")
    os.makedirs(src)
    emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 450)).select(
        "vec_id", "embedding"
    ).repartition(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    q = start_vector_ingest(engine, "svidx", stream, str(tmp_path / "vec_ckpt"))
    try:
        q.processAllAvailable()
        assert engine.table("svidx__vectors").count() == 450
        emb.where((F.col("vec_id") >= 450) & (F.col("vec_id") < 500)).select(
            "vec_id", "embedding"
        ).repartition(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    assert engine.table("svidx__vectors").count() == 500
    # appended vectors are probeable: querying with vec 470's embedding
    # under a foreign id must return 470 itself at cosine 1 (self-matches
    # are excluded by id, so rename the query id)
    probe = emb.where(F.col("vec_id") == 470).select(
        F.lit(999_999).alias("vec_id"), "embedding"
    )
    out = ann_index.ivf_index_topk(engine, "svidx", probe, k=3, nprobe=4)
    assert {r["neighbor_id"] for r in out.collect()} >= {470}
    # manual replay of an already-committed epoch: commit-layer no-op.
    # The gate is keyed to the STREAM's app id (index + checkpoint path),
    # so the replay must target it explicitly.
    stream_app = vector_ingest_app_id("svidx", str(tmp_path / "vec_ckpt"))
    batch = emb.where((F.col("vec_id") >= 450) & (F.col("vec_id") < 500)).select(
        "vec_id", "embedding"
    )
    replay = vector_ingest_batch(engine, "svidx", batch, 1, app_id=stream_app)
    assert replay == {"appended": 0, "replayed": True}
    assert engine.table("svidx__vectors").count() == 500
    # a DIFFERENT stream (fresh checkpoint => fresh app id) feeding the
    # same index starts at epoch 0 without being misread as a replay of
    # the first stream's history — the round-7 data-loss hazard
    other_app = vector_ingest_app_id("svidx", str(tmp_path / "other_ckpt"))
    assert other_app != stream_app
    extra = emb.where(F.col("vec_id") >= 490).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    fresh = vector_ingest_batch(engine, "svidx", extra, 0, app_id=other_app)
    assert fresh["replayed"] is False and fresh["appended"] == 10
    assert engine.table("svidx__vectors").count() == 510


def test_streaming_vector_ingest_auto_maintenance(spark, engine, tmp_path):
    """The in-stream maintenance hook: a micro-batch wave that trips
    max_appended_fraction triggers an automatic atomic rebuild inside
    the sink — appended_fraction returns to 0 while the stream keeps
    running, and subsequent epochs append against the NEW centroids."""
    from modelardb_rs_spark.operators import ann_index
    from modelardb_rs_spark.sources.testdata import load_table
    from modelardb_rs_spark.streaming.ingest import start_vector_ingest

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    first = emb.where(F.col("vec_id") < 300).select("vec_id", "embedding")
    ann_index.build_ivf_index(engine, "mvidx", first, bucket_col=None, n_buckets=4)

    src = str(tmp_path / "mv_in")
    os.makedirs(src)
    # wave 1: 200 appends onto 300 built = 40% appended -> trips 0.25
    emb.where((F.col("vec_id") >= 300) & (F.col("vec_id") < 500)).select(
        "vec_id", "embedding"
    ).repartition(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    q = start_vector_ingest(
        engine, "mvidx", stream, str(tmp_path / "mv_ckpt"),
        maintenance={"max_appended_fraction": 0.25},
    )
    try:
        q.processAllAvailable()
        s = ann_index.ivf_index_stats(engine, "mvidx", drift=False)
        assert s["appended_fraction"] == 0.0  # the sink rebuilt
        assert s["current_vectors"] == 500
        # wave 2: small append — below threshold, no rebuild, appended
        # against the rebuilt centroids
        emb.where(F.col("vec_id") >= 480).select(
            (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
        ).repartition(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    s2 = ann_index.ivf_index_stats(engine, "mvidx", drift=False)
    assert s2["current_vectors"] == 520
    assert 0.0 < s2["appended_fraction"] < 0.25
    # the whole grown index stays probeable end-to-end
    probe = emb.where(F.col("vec_id") == 490).select(
        F.lit(888_888).alias("vec_id"), "embedding"
    )
    out = ann_index.ivf_index_topk(engine, "mvidx", probe, k=3, nprobe=4)
    assert {r["neighbor_id"] for r in out.collect()} >= {490}


def test_streaming_vector_ingest_zero_drift_threshold(spark, engine, tmp_path):
    """max_drift=0.0 is a valid always-trigger threshold: the sink must
    compute drift stats for it (a truthiness check would skip them and
    ivf_index_maintenance would then KeyError inside foreachBatch,
    killing the stream)."""
    from modelardb_rs_spark.operators import ann_index
    from modelardb_rs_spark.sources.testdata import load_table
    from modelardb_rs_spark.streaming.ingest import start_vector_ingest

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    first = emb.where(F.col("vec_id") < 300).select("vec_id", "embedding")
    ann_index.build_ivf_index(engine, "zdidx", first, bucket_col=None, n_buckets=4)

    src = str(tmp_path / "zd_in")
    os.makedirs(src)
    emb.where((F.col("vec_id") >= 300) & (F.col("vec_id") < 360)).select(
        "vec_id", "embedding"
    ).repartition(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    q = start_vector_ingest(
        engine, "zdidx", stream, str(tmp_path / "zd_ckpt"),
        maintenance={"max_drift": 0.0},
    )
    try:
        q.processAllAvailable()
        assert q.exception() is None  # the stream survived the epoch
    finally:
        q.stop()
    # any nonzero drift trips 0.0, so the sink rebuilt after the append
    s = ann_index.ivf_index_stats(engine, "zdidx", drift=False)
    assert s["current_vectors"] == 360
    assert s["appended_fraction"] == 0.0


def test_vector_ingest_dedup_gate(spark, engine):
    """vector_ingest_batch(dedup=...): vectors already in the index are
    dropped before the append, exact within-batch copies collapse to
    one representative, an all-duplicate epoch still advances the
    replay gate, and replays of a deduped epoch skip the probe. The
    returned metrics keep GATE drops (deduped) separate from the
    within-batch exact collapse (collapsed_exact), so audits of gate
    effectiveness don't over-count on bursty exact-duplicate traffic."""
    from modelardb_rs_spark.operators import ann_index
    from modelardb_rs_spark.sources.testdata import load_table
    from modelardb_rs_spark.streaming.ingest import vector_ingest_batch

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    first = emb.where(F.col("vec_id") < 300).select("vec_id", "embedding")
    ann_index.build_ivf_index(engine, "dgidx", first, bucket_col=None, n_buckets=4)
    dd = {"threshold": 0.999, "nprobe": 4}

    # epoch 1: 2 copies of indexed vectors + 2 fresh + the SAME fresh
    # vector twice (within-batch exact pair -> one representative)
    copies = emb.where(F.col("vec_id").isin(5, 17)).select(
        (F.col("vec_id") + 800_000).alias("vec_id"), "embedding"
    )
    fresh = emb.where(F.col("vec_id").isin(301, 302)).select("vec_id", "embedding")
    twin = emb.where(F.col("vec_id") == 305).select(
        (F.col("vec_id") + F.lit(810_000)).alias("vec_id"), "embedding"
    ).unionByName(
        emb.where(F.col("vec_id") == 305).select(
            (F.col("vec_id") + F.lit(820_000)).alias("vec_id"), "embedding"
        )
    )
    batch = copies.unionByName(fresh).unionByName(twin)
    out = vector_ingest_batch(engine, "dgidx", batch, 1, dedup=dd)
    assert out["replayed"] is False
    assert out["appended"] == 3  # 301, 302, one of the twins
    assert out["deduped"] == 2          # the two indexed copies (gate)
    assert out["collapsed_exact"] == 1  # the within-batch twin
    assert engine.table("dgidx__vectors").count() == 303

    # replay of epoch 1: commit-layer no-op, no probe, no growth
    again = vector_ingest_batch(engine, "dgidx", batch, 1, dedup=dd)
    assert again == {
        "appended": 0, "replayed": True, "deduped": 0, "collapsed_exact": 0,
    }
    assert engine.table("dgidx__vectors").count() == 303

    # epoch 2: ALL duplicates — nothing appends, but the gate advances
    alldup = emb.where(F.col("vec_id").isin(301, 302)).select(
        (F.col("vec_id") + 830_000).alias("vec_id"), "embedding"
    )
    out2 = vector_ingest_batch(engine, "dgidx", alldup, 2, dedup=dd)
    assert out2 == {
        "appended": 0, "replayed": False, "deduped": 2, "collapsed_exact": 0,
    }
    assert engine.table("dgidx__vectors").count() == 303
    replay2 = vector_ingest_batch(engine, "dgidx", alldup, 2, dedup=dd)
    assert replay2 == {
        "appended": 0, "replayed": True, "deduped": 0, "collapsed_exact": 0,
    }

    # epoch 3: a dedup dict that redundantly names the column keys must
    # not collide with the explicit id_col/vec_col kwargs the batch
    # function already forwards (regression: duplicate-kwarg TypeError)
    dd3 = {**dd, "id_col": "vec_id", "vec_col": "embedding", "within_batch": True}
    fresh3 = emb.where(F.col("vec_id").isin(310, 311)).select("vec_id", "embedding")
    out3 = vector_ingest_batch(engine, "dgidx", fresh3, 3, dedup=dd3)
    assert out3["appended"] == 2
    assert engine.table("dgidx__vectors").count() == 305


def test_gate_probe_blocks_freed_after_ingest_epoch(spark, engine):
    """Every ingest epoch must leave ZERO new persisted/checkpointed
    RDDs behind (VERDICT r12 item 4): the gate's local-checkpointed
    probe is released deterministically via ann_index.free_gate_blocks
    when the epoch finishes — both on the append path and on the
    all-duplicates early return — instead of waiting for the
    ContextCleaner to notice the plan is garbage."""
    from modelardb_rs_spark.operators import ann_index
    from modelardb_rs_spark.sources.testdata import load_table
    from modelardb_rs_spark.streaming.ingest import vector_ingest_batch

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    first = emb.where(F.col("vec_id") < 200).select("vec_id", "embedding")
    ann_index.build_ivf_index(engine, "fbidx", first, bucket_col=None, n_buckets=4)
    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    # epoch with admissions (append path's finally-block cleanup)
    fresh = emb.where(F.col("vec_id").isin(201, 202)).select("vec_id", "embedding")
    out = vector_ingest_batch(
        engine, "fbidx", fresh, 1, dedup={"threshold": 0.999, "nprobe": 4}
    )
    assert out["appended"] == 2
    assert jsc.getPersistentRDDs().size() == baseline
    # all-duplicate epoch (early-return path's cleanup)
    dup = emb.where(F.col("vec_id").isin(201, 202)).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding"
    )
    out2 = vector_ingest_batch(
        engine, "fbidx", dup, 2, dedup={"threshold": 0.999, "nprobe": 4}
    )
    assert out2["appended"] == 0 and out2["deduped"] == 2
    assert jsc.getPersistentRDDs().size() == baseline
    # a bare gate call still cleans up when the caller asks explicitly
    chk = ann_index.semantic_dedup_check(
        engine, "fbidx", dup, threshold=0.999, nprobe=4
    )
    chk.count()
    assert ann_index.free_gate_blocks(chk) is True
    assert jsc.getPersistentRDDs().size() == baseline
    # idempotent-ish: a frame without the handle is a no-op
    assert ann_index.free_gate_blocks(fresh) is False
