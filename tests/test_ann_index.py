"""Persisted ANN index: value parity with the inline IVF pipeline and
planning-time partition pruning of unprobed buckets."""

import pytest
from pyspark.sql import functions as F

from modelardb_rs_spark.operators import ann_index, similarity
from modelardb_rs_spark.sources.testdata import load_table


@pytest.fixture()
def emb(spark):
    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


def test_build_and_parity_with_inline_ivf(engine, emb):
    stats = ann_index.build_ivf_index(engine, "idx", emb, bucket_col="label")
    assert stats["n_vectors"] == emb.count()
    assert stats["n_buckets"] == emb.select("label").distinct().count()

    queries = emb.where(F.col("vec_id") < 8)
    inline = similarity.ivf_topk(emb, queries, k=5, nprobe=2, bucket_col="label")
    persisted = ann_index.ivf_index_topk(engine, "idx", queries, k=5, nprobe=2)
    assert sorted(map(tuple, inline.collect())) == sorted(map(tuple, persisted.collect()))


def test_probe_prunes_partitions(engine, emb):
    ann_index.build_ivf_index(engine, "idx2", emb, bucket_col="label")
    queries = emb.where(F.col("vec_id") == 0)
    out = ann_index.ivf_index_topk(engine, "idx2", queries, k=3, nprobe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the vectors scan must carry a partition filter on ivf_bucket —
    # unprobed bucket directories are pruned at planning time
    scan = plan.split("__vectors")[-1]
    assert "ivf_bucket" in scan.split("PartitionFilters")[1][:120]
    assert out.count() == 3


def test_kmeans_index_recall(engine, emb):
    ann_index.build_ivf_index(engine, "kidx", emb, bucket_col=None, n_buckets=8)
    queries = emb.where(F.col("vec_id") < 8)
    approx = ann_index.ivf_index_topk(engine, "kidx", queries, k=5, nprobe=3)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.4


def test_rebuild_replaces_index(engine, emb):
    ann_index.build_ivf_index(engine, "idx3", emb, bucket_col="label")
    half = emb.where(F.col("vec_id") % 2 == 0)
    stats = ann_index.build_ivf_index(engine, "idx3", half, bucket_col="label")
    assert stats["n_vectors"] == half.count()


def test_incremental_append(engine, emb):
    first = emb.where(F.col("vec_id") < 400)
    rest = emb.where(F.col("vec_id") >= 400)
    ann_index.build_ivf_index(engine, "gidx", first, bucket_col="label")
    stats = ann_index.append_to_ivf_index(engine, "gidx", rest)
    assert stats["appended"] == rest.count()
    vecs = engine.table("gidx__vectors")
    assert vecs.count() == emb.count()
    # appended vectors are probeable: a query near an appended vector
    # can return it
    queries = rest.limit(3)
    out = ann_index.ivf_index_topk(engine, "gidx", queries, k=5, nprobe=3)
    assert out.count() == 15
    # every appended vector sits in a valid existing bucket
    buckets = {r["ivf_bucket"] for r in engine.table("gidx__centroids").select("ivf_bucket").collect()}
    got = {r["ivf_bucket"] for r in vecs.select("ivf_bucket").distinct().collect()}
    assert got <= buckets


def test_append_counts_without_recomputing_lineage(engine, spark, emb):
    # `appended` is derived from the commit's own add entries (per-file
    # num_rows footer stats), so a caller with expensive upstream
    # lineage pays for the lineage ONCE — the write job is the only
    # execution. A per-row accumulator in the input plan detects
    # re-execution: the old write-then-count shape evaluated every row
    # twice.
    from pyspark.sql.types import LongType

    first = emb.where(F.col("vec_id") < 400)
    batch = emb.where(F.col("vec_id") >= 400)
    n_batch = batch.count()
    ann_index.build_ivf_index(engine, "onceidx", first, bucket_col="label")

    acc = spark.sparkContext.accumulator(0)

    @F.udf(LongType())
    def tick(v):
        acc.add(1)
        return v

    traced = batch.withColumn("vec_id", tick(F.col("vec_id")))
    stats = ann_index.append_to_ivf_index(engine, "onceidx", traced)
    assert stats == {"appended": n_batch, "replayed": False}
    # speculative/retried tasks could legitimately add a few extra ticks;
    # a full second evaluation would land at exactly 2x
    assert acc.value < 2 * n_batch


def test_append_empty_batch_reports_zero(engine, emb):
    # An EMPTY micro-batch must commit cleanly and report appended=0.
    # This is the case that broke the former Observation form: AQE's
    # empty-relation propagation eliminates the CollectMetrics node and
    # the metrics never materialize; the commit-stats derivation has no
    # such failure mode (no add entries -> 0).
    first = emb.where(F.col("vec_id") < 400)
    ann_index.build_ivf_index(engine, "emptyidx", first, bucket_col="label")
    empty = emb.where(F.col("vec_id") < 0)
    stats = ann_index.append_to_ivf_index(engine, "emptyidx", empty)
    assert stats == {"appended": 0, "replayed": False}
    assert engine.table("emptyidx__vectors").count() == first.count()


def test_commit_entries_carry_num_rows(engine, emb):
    # Every normal-table add entry records the file's parquet num_rows
    # (footer ranged read at stage time): per-bucket histograms
    # (ivf_index_stats, the builds' commit_meta counts) come straight
    # from the log — zero Spark jobs, any bucket count.
    ann_index.build_ivf_index(engine, "nridx", emb, bucket_col="label")
    snap = engine.folder.log("nridx__vectors").snapshot()
    assert snap.files and all("num_rows" in f for f in snap.files)
    assert sum(f["num_rows"] for f in snap.files) == emb.count()
    # and the meta centroids' n_vectors agree with the file stats
    by_bucket: dict[int, int] = {}
    for f in snap.files:
        b = int(f["path"].split("ivf_bucket=")[1].split("/")[0])
        by_bucket[b] = by_bucket.get(b, 0) + f["num_rows"]
    meta = {int(b): int(n) for b, _, n in (snap.meta or {})["ann_centroids"]}
    assert meta == by_bucket


def test_append_txn_replay_is_exactly_once(engine, emb):
    # At-least-once delivery replays the same (app_id, epoch) append:
    # the SetTransaction gate must skip the duplicate commit WITHOUT
    # launching a count job, and report appended=0/replayed=True —
    # same contract as dedup_index.append_to_minhash_index.
    first = emb.where(F.col("vec_id") < 400)
    batch = emb.where(F.col("vec_id") >= 400)
    ann_index.build_ivf_index(engine, "txidx", first, bucket_col="label")
    stats1 = ann_index.append_to_ivf_index(
        engine, "txidx", batch, txn=("stream-app", 1)
    )
    assert stats1 == {"appended": batch.count(), "replayed": False}
    n_after_first = engine.table("txidx__vectors").count()

    # replay of the same epoch: no-op, no duplicate rows
    stats2 = ann_index.append_to_ivf_index(
        engine, "txidx", batch, txn=("stream-app", 1)
    )
    assert stats2 == {"appended": 0, "replayed": True}
    assert engine.table("txidx__vectors").count() == n_after_first

    # a LATER epoch from the same app still applies
    stats3 = ann_index.append_to_ivf_index(
        engine, "txidx", batch.limit(5), txn=("stream-app", 2)
    )
    assert stats3["replayed"] is False and stats3["appended"] == 5
    assert engine.table("txidx__vectors").count() == n_after_first + 5


def test_ivf_index_stats_detects_skewed_appends(engine, spark, emb):
    """ivf_index_stats: fresh build reports zero appended fraction and
    (near-)zero drift; a skewed append wave into one region raises the
    appended fraction, the bucket imbalance, and the centroid drift —
    the rebuild signal."""
    ann_index.build_ivf_index(engine, "statidx", emb, bucket_col="label")
    base = ann_index.ivf_index_stats(engine, "statidx")
    assert base["appended_fraction"] == 0.0
    assert base["built_vectors"] == base["current_vectors"] == emb.count()
    assert base["max_centroid_drift"] < 1e-9  # centroids ARE the means
    assert base["bucket_imbalance"] >= 1.0 and base["n_files"] >= 1

    # skewed appends: many copies of ONE vector, offset hard in one
    # direction — they pile into a single bucket and drag its true mean
    # away from the stored centroid
    probe = emb.where(F.col("vec_id") == 7).select("embedding")
    skew = (
        spark.range(300)
        .crossJoin(probe)
        .select(
            (F.col("id") + 10_000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * F.lit(3.0) + F.lit(5.0)).cast("float")).alias(
                "embedding"
            ),
        )
    )
    ann_index.append_to_ivf_index(engine, "statidx", skew)
    after = ann_index.ivf_index_stats(engine, "statidx")
    assert after["appended_fraction"] > 0.3
    assert after["current_vectors"] == base["current_vectors"] + 300
    assert after["bucket_imbalance"] > base["bucket_imbalance"]
    assert after["max_centroid_drift"] > base["max_centroid_drift"] + 0.001
    assert after["mean_centroid_drift"] > base["mean_centroid_drift"]


def test_ivf_index_stats_drift_wide_dim(engine, spark):
    """The drift pass must stay a three-column plan at embedding dims
    where one-sum-column-per-dimension would blow up codegen: dim=1024
    here (round-8 shape generated 1024 aggregate expressions). Executes
    end-to-end and reports ~zero drift on a fresh build."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=1024).astype(np.float32)], int(i % 3))
        for i in range(48)
    ]
    wide = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    ann_index.build_ivf_index(engine, "wideidx", wide, bucket_col="label")
    stats = ann_index.ivf_index_stats(engine, "wideidx", drift=True)
    assert stats["n_buckets"] == 3
    assert stats["current_vectors"] == 48
    assert stats["max_centroid_drift"] < 1e-9


def test_optimize_preserves_bucket_partition_layout(engine, emb):
    """Compacting a Hive-partitioned ANN vectors table must keep the
    ivf_bucket= directory layout (inferred from live paths), keep probe
    results identical, and keep planning-time partition pruning."""
    first = emb.where(F.col("vec_id") < 400)
    ann_index.build_ivf_index(engine, "optidx", first, bucket_col="label")
    for i in range(6):
        batch = emb.where(
            (F.col("vec_id") >= 400 + i * 100) & (F.col("vec_id") < 500 + i * 100)
        )
        ann_index.append_to_ivf_index(engine, "optidx", batch)
    queries = emb.where(F.col("vec_id") < 8)
    before = sorted(
        map(tuple, ann_index.ivf_index_topk(engine, "optidx", queries, k=5, nprobe=2).collect())
    )
    n_files_before = len(engine.folder.log("optidx__vectors").snapshot().files)

    stats = engine.optimize("optidx__vectors")
    assert stats["compacted"] >= 2 and stats["produced"] < stats["compacted"]
    snap = engine.folder.log("optidx__vectors").snapshot()
    assert len(snap.files) < n_files_before
    # every live file still sits under an ivf_bucket= directory
    assert all("ivf_bucket=" in f["path"] for f in snap.files)

    after_df = ann_index.ivf_index_topk(engine, "optidx", queries, k=5, nprobe=2)
    assert sorted(map(tuple, after_df.collect())) == before
    plan = after_df._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("__vectors")[-1]
    assert "ivf_bucket" in scan.split("PartitionFilters")[1][:120]


def test_small_appends_to_a_wide_index_do_not_recompact(engine, emb):
    """One file per bucket directory is not mergeable: small appends to
    a 56-bucket index leave the vectors table uncompacted instead of
    rewriting all of it on every append."""
    corpus = emb.withColumn("label", (F.col("vec_id") % 56).cast("int"))
    ann_index.build_ivf_index(
        engine, "wide56", corpus.where(F.col("vec_id") < 448), bucket_col="label"
    )
    for i in range(4):
        lo = 448 + 5 * i
        batch = corpus.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 5))
        assert ann_index.append_to_ivf_index(engine, "wide56", batch)["appended"] == 5
    ops = [h["op"] for h in engine.folder.history("wide56__vectors")]
    assert "optimize" not in ops, ops
    assert engine.table("wide56__vectors").count() == 468


def test_optimize_mixed_layout_warns_not_silent(engine, spark, caplog):
    """Writes that disagree on Hive layout make compaction unsafe;
    optimize must refuse LOUDLY (warning + mixed_layouts in the result),
    not silently no-op forever while the file count grows."""
    import logging

    engine.create_table("mixed_t", "vec_id BIGINT, ivf_bucket INT")
    df = spark.range(4).select(
        F.col("id").alias("vec_id"), (F.col("id") % 2).cast("int").alias("ivf_bucket")
    )
    engine.write("mixed_t", df, partition_by=["ivf_bucket"])
    engine.write("mixed_t", df)  # flat layout — disagrees
    with caplog.at_level(logging.WARNING, logger="modelardb_rs_spark.sources.datafolder"):
        stats = engine.optimize("mixed_t", target_file_bytes=1 << 30)
    assert stats["compacted"] == 0
    assert stats["mixed_layouts"] == [(), ("ivf_bucket",)]
    assert any("mixed" in r.message for r in caplog.records)


def test_rag_pipeline_roundtrip(engine, spark):
    """chunk -> embed -> index -> search: a query made from a document's
    own prefix retrieves that document's first chunk at rank 1."""
    from modelardb_rs_spark.operators import rag

    docs = spark.createDataFrame(
        [(i, f"document number {i} " + f"word{i} " * 120) for i in range(20)],
        "doc_id long, text string",
    )
    stats = rag.build_rag_index(engine, "ragidx", docs, chunk_chars=128, overlap_chars=16)
    assert stats["n_vectors"] >= 20
    # the stub encoder is a hash (no locality): only an EXACT chunk text
    # reproduces a stored vector, so query with doc 7's first chunk
    queries = docs.where(F.col("doc_id") == 7).select(
        F.lit(7).alias("query_id"),
        F.substring("text", 1, 128).alias("query_text"),
    )
    out = rag.rag_search(engine, "ragidx", queries, k=3, nprobe=8).collect()
    assert len(out) == 3
    top = min(out, key=lambda r: r["rank"])
    assert top["neighbor_id"] // 100000 == 7
    assert top["cos"] == 1.0


def test_rag_encoder_seam_swaps_in(engine, spark):
    """The documented drop-in claim, exercised: a NON-TRIVIAL encoder — a
    real Arrow-batched pandas UDF with a wider dim (32) and L2-normalized
    outputs, i.e. the shape a sentence-embedding model produces — replaces
    the stub through the `encoder=` seam. The index builds with KMeans
    buckets (text-hash buckets mean nothing in a real embedding space),
    stores dim-32 unit vectors, and a query made from a chunk's own text
    retrieves that chunk at rank 1 with cosine ~1."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from modelardb_rs_spark.operators.rag import build_rag_index, rag_search

    DIM = 32

    @pandas_udf("array<float>")
    def toy_encoder(texts: pd.Series) -> pd.Series:
        import zlib

        def enc(t):
            # deterministic "model": char-trigram hashing into 32 dims,
            # L2-normalized — wider and normalized, unlike the stub.
            # crc32, not hash(): str hash seeds differ per Python worker
            v = np.zeros(DIM, dtype=np.float64)
            t = t or ""
            for i in range(len(t) - 2):
                v[zlib.crc32(t[i : i + 3].encode()) % DIM] += 1.0
            n = np.linalg.norm(v)
            return (v / n if n > 0 else v + 1.0 / np.sqrt(DIM)).astype(np.float32).tolist()

        return texts.map(enc)

    docs = spark.createDataFrame(
        [(i, f"document {i} body text " + " ".join(f"tok{i}_{j}" for j in range(40)))
         for i in range(30)],
        "doc_id LONG, text STRING",
    )
    stats = build_rag_index(
        engine, "ragenc", docs, chunk_chars=120, overlap_chars=0,
        n_buckets=4, encoder=toy_encoder,
    )
    assert stats["n_buckets"] == 4
    vec = engine.table("ragenc__vectors").select("embedding").first()["embedding"]
    assert len(vec) == DIM
    assert abs(float(np.linalg.norm(vec)) - 1.0) < 1e-3  # normalized outputs
    # query with doc 7's first-chunk text: that chunk must come back #1
    first_chunk = docs.where(F.col("doc_id") == 7).select(
        F.substring("text", 1, 120).alias("query_text"), F.lit(1).alias("query_id")
    )
    out = rag_search(
        engine, "ragenc", first_chunk, k=3, nprobe=4, encoder=toy_encoder
    ).collect()
    top = [r for r in out if r["rank"] == 1][0]
    assert top["neighbor_id"] == 7 * 100_000 + 0
    assert top["cos"] > 0.999


def test_centroid_cache_versioned_per_engine(engine, emb):
    """Probing twice reuses the per-engine centroid cache (no re-read);
    an append keeps the cache (the commit meta is unchanged); a rebuild
    gets a fresh build_id, evicting the old key and refilling."""
    from modelardb_rs_spark.operators import ann_index as ai

    ai.build_ivf_index(engine, "cidx", emb, bucket_col="label")
    r1 = ai.ivf_index_topk(engine, "cidx", emb.limit(2), k=3, nprobe=2).collect()
    cache = engine._ann_centroid_cache
    assert len(cache) >= 1
    key1 = next(k for k in cache if k[0] == "cidx__vectors")
    rows1 = cache[key1]
    r2 = ai.ivf_index_topk(engine, "cidx", emb.limit(2), k=3, nprobe=2).collect()
    assert cache[key1] is rows1  # same cached rows object — no re-read
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    # append: vectors version bumps but the centroids meta does not —
    # the cache entry survives (sustained ingest never refills it)
    ai.append_to_ivf_index(
        engine, "cidx",
        emb.limit(3).select((F.col("vec_id") + 90_000).alias("vec_id"), "embedding", "label"),
    )
    ai.ivf_index_topk(engine, "cidx", emb.limit(2), k=3, nprobe=2).collect()
    assert cache.get(key1) is rows1
    # rebuild: fresh build_id, old key evicted, fresh rows cached
    ai.build_ivf_index(engine, "cidx", emb, bucket_col="label")
    ai.ivf_index_topk(engine, "cidx", emb.limit(2), k=3, nprobe=2).collect()
    keys = [k for k in engine._ann_centroid_cache if k[0] == "cidx__vectors"]
    assert keys and keys[0] != key1
    assert key1 not in engine._ann_centroid_cache


def test_ivfpq_build_probe_recall_and_determinism(engine, emb):
    stats = ann_index.build_ivfpq_index(
        engine, "pqidx", emb, bucket_col="label", m=8, ks=16
    )
    assert stats["n_vectors"] == emb.count()
    assert stats["m"] == 8 and stats["ks"] == 16
    queries = emb.where(F.col("vec_id") < 8)
    approx = ann_index.ivfpq_topk(engine, "pqidx", queries, k=5, nprobe=4, rerank=30)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.4
    again = ann_index.ivfpq_topk(engine, "pqidx", queries, k=5, nprobe=4, rerank=30)
    assert sorted(map(tuple, approx.collect())) == sorted(map(tuple, again.collect()))
    # the driver-side query collect is bounded: an over-limit query
    # TABLE raises with a pointer at the distributed-query paths
    import pytest

    with pytest.raises(ValueError, match="query set exceeds"):
        ann_index.ivfpq_topk(engine, "pqidx", emb, k=5, max_queries=50)


def test_ivfpq_opq_build_probe_append_rebuild(engine, emb):
    """OPQ composition on the persisted index: build_ivfpq_index(opq=True)
    persists the rotation as subspace=-1 pqbooks rows, probes score the
    ORIGINAL cosine (recall floor vs brute force), appends re-encode in
    the same rotated space through _encode_residuals, and a maintenance
    rebuild (which never rewrites the books table) keeps the rotation —
    probe results stay deterministic across all of it."""
    import numpy as np

    stats = ann_index.build_ivfpq_index(
        engine, "opqidx", emb, bucket_col="label", m=8, ks=16, opq=True
    )
    assert stats["opq"] is True
    dim = len(emb.select("embedding").first()[0])
    rot_rows = (
        engine.table("opqidx__pqbooks").where(F.col("subspace") == -1).collect()
    )
    assert len(rot_rows) == dim
    R = np.zeros((dim, dim))
    for r in rot_rows:
        R[r["code"]] = np.asarray(list(r["centroid"]))
    assert np.abs(R @ R.T - np.eye(dim)).max() < 1e-3  # float32 storage

    queries = emb.where(F.col("vec_id") < 8)
    # rerank=50: at this corpus size the 30-candidate shortlist is
    # noise-dominated (plain PQ sits exactly at its floor there);
    # measured 0.450 OPQ vs 0.425 plain at rerank=50
    approx = ann_index.ivfpq_topk(engine, "opqidx", queries, k=5, nprobe=4, rerank=50)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.4

    # append a near-copy of vector 3: the probe must surface it as its
    # source's neighbor — proves appended codes live in the same
    # rotated space the queries are scored in
    ann_index.append_to_ivf_index(
        engine, "opqidx",
        emb.where(F.col("vec_id") == 3).select(
            (F.col("vec_id") + 70_000).alias("vec_id"), "embedding", "label"
        ),
    )
    q3 = emb.where(F.col("vec_id") == 3)
    hits = {r["neighbor_id"]
            for r in ann_index.ivfpq_topk(
                engine, "opqidx", q3, k=3, nprobe=4, rerank=20
            ).collect()}
    assert 70_003 in hits

    # forced rebuild: rotation survives (books table untouched), the
    # re-encode passes through the same rotation, probe still green
    out = ann_index.ivf_index_maintenance(
        engine, "opqidx", max_appended_fraction=0.0
    )
    assert out["rebuilt"] is True
    hits2 = {r["neighbor_id"]
             for r in ann_index.ivfpq_topk(
                 engine, "opqidx", q3, k=3, nprobe=4, rerank=20
             ).collect()}
    assert 70_003 in hits2


def test_ivfpq_probe_prunes_partitions_and_reads_codes_only(engine, emb):
    ann_index.build_ivfpq_index(engine, "pqidx2", emb, bucket_col="label")
    queries = emb.where(F.col("vec_id") == 0)
    out = ann_index.ivfpq_topk(engine, "pqidx2", queries, k=3, nprobe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # ADC scan: partition filter on ivf_bucket AND no raw embedding read
    scan = plan.split("__vectors")[-1]
    assert "ivf_bucket" in scan.split("PartitionFilters")[1][:120]
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "pq_codes" in read_schema and "embedding" not in read_schema
    assert out.count() == 3


def test_ivfpq_rerank_evaluates_queries_once(engine, spark, emb):
    """The probe's only read of ``queries`` is the bounded collect: a
    per-row accumulator in the query frame ticks exactly |Q| times,
    with the exact re-rank on (its query vectors ride the kernel's
    closure instead of a second evaluation of the frame)."""
    from pyspark.sql.types import ArrayType, FloatType

    ann_index.build_ivfpq_index(engine, "onceq", emb, bucket_col="label")
    acc = spark.sparkContext.accumulator(0)

    @F.udf(ArrayType(FloatType()))
    def tick(v):
        acc.add(1)
        return v

    queries = emb.where(F.col("vec_id") < 6).withColumn("embedding", tick("embedding"))
    out = ann_index.ivfpq_topk(engine, "onceq", queries, k=5, nprobe=3, rerank=30)
    assert len(out.collect()) == 30
    assert acc.value == 6


def test_ivfpq_shortlist_keeps_ties_across_tasks(engine, spark):
    """300 copies of one vector tie on ADC and on exact cosine, spread
    over several files of one bucket (one scan task each): each task
    must forward all its tied rows, so the result is the 5 lowest
    non-query ids. Ids arrive in descending order, so a task keeping
    its first N rows would keep its highest ids."""
    import numpy as np

    v = [float(x) for x in np.random.default_rng(11).normal(size=16)]
    corpus = spark.createDataFrame(
        [(i, v, 0) for i in reversed(range(300))],
        "vec_id long, embedding array<float>, label int",
    )
    ann_index.build_ivfpq_index(engine, "ties", corpus, bucket_col="label", m=4, ks=4)
    assert engine.table("ties__vectors").rdd.getNumPartitions() >= 3
    out = ann_index.ivfpq_topk(
        engine, "ties", corpus.where(F.col("vec_id") == 0), k=5, nprobe=1, rerank=10
    ).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]


def test_ivf_probe_still_works_on_ivfpq_index(engine, emb):
    """The IVF-PQ layout is a superset of the IVF one: the exact
    within-probed-buckets probe must keep working unchanged."""
    ann_index.build_ivfpq_index(engine, "pqidx3", emb, bucket_col="label")
    queries = emb.where(F.col("vec_id") < 8)
    inline = similarity.ivf_topk(emb, queries, k=5, nprobe=2, bucket_col="label")
    persisted = ann_index.ivf_index_topk(engine, "pqidx3", queries, k=5, nprobe=2)
    assert sorted(map(tuple, inline.collect())) == sorted(map(tuple, persisted.collect()))


def test_ivfpq_append_encodes_codes(engine, emb):
    first = emb.where(F.col("vec_id") < 400)
    rest = emb.where(F.col("vec_id") >= 400)
    ann_index.build_ivfpq_index(engine, "pqidx4", first, bucket_col="label")
    stats = ann_index.append_to_ivf_index(engine, "pqidx4", rest)
    assert stats["appended"] == rest.count()
    vt = engine.table("pqidx4__vectors")
    assert vt.where(F.col("pq_codes").isNull() | F.col("pq_norm").isNull()).count() == 0
    # an appended vector is findable via the code path
    probe = emb.where(F.col("vec_id") == 450)
    out = ann_index.ivfpq_topk(engine, "pqidx4", probe, k=5, nprobe=3, rerank=30)
    assert out.count() == 5


def test_ivf_maintenance_noop_then_trip_restores_recall(engine, spark, emb):
    """The auto-rebuild policy: a fresh index is a no-op (nothing
    tripped, nothing changed); a skewed append wave trips
    max_appended_fraction; the rebuild re-fits the coarse quantizer
    over built + appended vectors ATOMICALLY and recall on planted
    near-dup pairs returns to fresh-build level."""
    ann_index.build_ivf_index(engine, "midx", emb, bucket_col=None, n_buckets=8)
    noop = ann_index.ivf_index_maintenance(engine, "midx", max_appended_fraction=0.2)
    assert noop["rebuilt"] is False and noop["reasons"] == []
    v0 = engine.folder.log("midx__vectors").snapshot().version

    # appended wave: scaled copies of 60 originals (planted exact
    # near-dups, cosine 1) — enough to trip the 20% appended threshold
    planted = emb.where(F.col("vec_id") < 60).select(
        (F.col("vec_id") + 50_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    ann_index.append_to_ivf_index(
        engine, "midx", planted.select("vec_id", "embedding")
    )
    out = ann_index.ivf_index_maintenance(engine, "midx", max_appended_fraction=0.1)
    assert out["rebuilt"] is True
    assert any("appended_fraction" in r for r in out["reasons"])
    assert out["n_vectors"] == emb.count() + 60
    # the replace is transactional: exactly two commits on the vectors
    # table (the append + the replace), old snapshot still time-travels
    log = engine.folder.log("midx__vectors")
    assert log.snapshot().version == v0 + 2
    old = engine.folder.read_normal(
        "midx__vectors", engine.table("midx__vectors").schema, version=v0
    )
    assert old.count() == emb.count()

    after = ann_index.ivf_index_stats(engine, "midx")
    assert after["appended_fraction"] == 0.0
    assert after["current_vectors"] == emb.count() + 60

    # recall on the planted pairs: each original's scaled copy must be
    # its top neighbor through the REBUILT index (fresh-build level —
    # the copy has cosine exactly 1 and shares the bucket by geometry)
    queries = emb.where(F.col("vec_id") < 60)
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in ann_index.ivf_index_topk(engine, "midx", queries, k=1, nprobe=1)
        .collect()
    }
    hit = sum(1 for q, n in got.items() if n == q + 50_000)
    assert hit >= 58, f"planted-pair recall after rebuild: {hit}/60"

    # and the policy is replay-safe: a second run is a no-op again
    again = ann_index.ivf_index_maintenance(engine, "midx", max_appended_fraction=0.1)
    assert again["rebuilt"] is False


def test_ivf_maintenance_rebuilds_pq_codes_against_new_geometry(engine, emb):
    """On an IVF-PQ index the rebuild keeps the trained codebooks but
    re-encodes every residual against the new coarse centroids — the
    code path must stay probeable end-to-end afterwards."""
    first = emb.where(F.col("vec_id") < 400)
    rest = emb.where(F.col("vec_id") >= 400)
    ann_index.build_ivfpq_index(engine, "mpq", first, bucket_col=None, n_buckets=6)
    ann_index.append_to_ivf_index(engine, "mpq", rest.select("vec_id", "embedding"))
    out = ann_index.ivf_index_maintenance(engine, "mpq", max_appended_fraction=0.1)
    assert out["rebuilt"] is True
    vt = engine.table("mpq__vectors")
    assert vt.count() == emb.count()
    assert vt.where(F.col("pq_codes").isNull() | F.col("pq_norm").isNull()).count() == 0
    probe = emb.where(F.col("vec_id") == 450)
    found = ann_index.ivfpq_topk(engine, "mpq", probe, k=5, nprobe=3, rerank=30)
    assert found.count() == 5


def test_overwrite_is_atomic_and_conditional(engine, spark):
    """Engine.overwrite: one commit replaces the live set (old version
    still time-travels), and a stale expected_paths aborts with
    ConcurrentModificationError instead of dropping concurrent rows."""
    import pytest as _pytest

    from modelardb_rs_spark.sources.datafolder import ConcurrentModificationError

    engine.create_table("ow", "k BIGINT, v BIGINT")
    engine.write("ow", spark.range(5).selectExpr("id AS k", "id * 2 AS v"))
    v_old = engine.folder.log("ow").snapshot().version
    stale = list(engine.folder.log("ow").snapshot().paths)

    engine.overwrite("ow", spark.range(3).selectExpr("id AS k", "id * 10 AS v"))
    assert engine.table("ow").count() == 3
    assert {r["v"] for r in engine.table("ow").collect()} == {0, 10, 20}
    old = engine.folder.read_normal("ow", engine.table("ow").schema, version=v_old)
    assert old.count() == 5  # snapshot isolation: old version intact

    # conditional replace: live set changed since `stale` was captured
    with _pytest.raises(ConcurrentModificationError):
        engine.overwrite(
            "ow",
            spark.range(1).selectExpr("id AS k", "id AS v"),
            expected_paths=stale,
        )
    assert engine.table("ow").count() == 3  # aborted replace changed nothing


def test_ivf_rebuild_is_one_atomic_commit_and_mirror_resyncs(engine, emb):
    """The authoritative centroids ride the vectors commit's meta, so a
    rebuild is ONE atomic flip: a crash after it (before the derived
    mirror-table commit) leaves probes fully consistent — the next
    maintenance call resyncs the stale mirror with a k-row rewrite, not
    a rebuild."""
    ann_index.build_ivf_index(engine, "chidx", emb, bucket_col=None, n_buckets=4)
    out = ann_index.ivf_index_maintenance(engine, "chidx", max_appended_fraction=0.9)
    assert out["rebuilt"] is False
    vt, ct = "chidx__vectors", "chidx__centroids"
    # simulate the crash: the authoritative vectors+meta commit landed
    # (here with a freshly-fitted 8-bucket geometry) but the process
    # died before the mirror commit
    from modelardb_rs_spark.operators.ann_index import _fitted_meta_fn
    from modelardb_rs_spark.operators.similarity import numpy_kmeans_buckets

    corpus = engine.table(vt).select("vec_id", "embedding")
    bucketed, fitted_C, _ = numpy_kmeans_buckets(
        corpus, k=8, id_col="vec_id", vec_col="embedding", seed=7,
    )
    vectors = bucketed.select(
        "vec_id", "embedding", F.col("ivf_bucket").cast("int").alias("ivf_bucket")
    )
    cent_rows: list = []
    gen = int(engine.folder.log(vt).snapshot().version) + 1
    engine.overwrite(
        vt, vectors, partition_by=["ivf_bucket"],
        commit_meta=_fitted_meta_fn(engine, vectors, fitted_C, cent_rows, gen=gen),
    )
    # probes are consistent IMMEDIATELY — the 8-bucket centroids come
    # from the same snapshot as the 8-bucket vectors, even though the
    # mirror table still holds the old 4-bucket rows
    s = ann_index.ivf_index_stats(engine, "chidx", drift=False)
    assert s["n_buckets"] == 8
    # query under a fresh id (probe_topk excludes the query's own id):
    # vector 5's embedding must find the STORED row 5 at cosine 1
    q = emb.where(F.col("vec_id") == 5).select(
        F.lit(999_999).alias("vec_id"), "embedding"
    )
    hit = ann_index.ivf_index_topk(engine, "chidx", q, k=1, nprobe=8).collect()
    assert hit and hit[0]["neighbor_id"] == 5 and abs(hit[0]["cos"] - 1.0) < 1e-5
    assert engine.table(ct).count() == 4  # the mirror IS stale
    # maintenance resyncs the mirror without rebuilding
    healed = ann_index.ivf_index_maintenance(engine, "chidx", max_appended_fraction=0.9)
    assert healed["rebuilt"] is False
    assert engine.table(ct).count() == 8
    assert engine.last_txn_version(ct, "ivf_rebuild::chidx") == gen
    # mirror content matches the authoritative meta exactly
    mirror = {
        (int(r["ivf_bucket"]), tuple(r["centroid"]), int(r["n_vectors"]))
        for r in engine.table(ct).collect()
    }
    meta_rows = {
        (b, tuple(c), n)
        for b, c, n in ann_index._centroid_rows(engine, "chidx")
    }
    assert mirror == meta_rows
    # a rerun is a no-op (stamp now matches the gen)
    again = ann_index.ivf_index_maintenance(engine, "chidx", max_appended_fraction=0.9)
    assert again["rebuilt"] is False
    assert engine.table(vt).count() == emb.count()
def test_ivf_maintenance_trips_on_drift_and_imbalance(engine, spark, emb):
    """The other two policy levers: a skewed append wave (many copies
    of one far-offset vector) drags one bucket's mean and size, so
    max_drift and max_imbalance each trip a rebuild on their own; after
    the rebuild the drift is ~0 again (fitted centroids ARE the
    quantizer geometry)."""
    ann_index.build_ivf_index(engine, "didx", emb, bucket_col=None, n_buckets=6)
    probe = emb.where(F.col("vec_id") == 7).select("embedding")
    skew = (
        spark.range(300)
        .crossJoin(probe)
        .select(
            (F.col("id") + 10_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * F.lit(3.0) + F.lit(5.0)).cast("float")
            ).alias("embedding"),
        )
    )
    ann_index.append_to_ivf_index(engine, "didx", skew)
    s = ann_index.ivf_index_stats(engine, "didx", drift=True)
    assert s["max_centroid_drift"] > 0.001 and s["bucket_imbalance"] > 1.5
    # imbalance-only policy trips (appended/drift thresholds disabled)
    out = ann_index.ivf_index_maintenance(
        engine, "didx", max_appended_fraction=None, max_imbalance=1.5
    )
    assert out["rebuilt"] is True
    assert any("bucket_imbalance" in r for r in out["reasons"])
    # drift-only policy. A sampled-fit rebuild leaves RESIDUAL drift
    # (fitted centroids differ from exact posterior means by the Lloyd
    # convergence gap, ~0.002 on this fixture — see the docstring), so
    # the threshold sits above it: freshly rebuilt -> no-op; a second
    # skew wave drags a bucket mean far past it -> trip.
    fresh = ann_index.ivf_index_stats(engine, "didx", drift=True)
    thr = max(0.02, 5 * fresh["max_centroid_drift"])
    noop = ann_index.ivf_index_maintenance(
        engine, "didx", max_appended_fraction=None, max_drift=thr
    )
    assert noop["rebuilt"] is False
    # the rebuild gave the first wave its own bucket, so identical
    # copies no longer drag a mean — the second wave sits at a NEW
    # offset, pulling whichever bucket captures it
    ann_index.append_to_ivf_index(
        engine, "didx",
        skew.select(
            (F.col("vec_id") + 50_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * F.lit(-2.0) - F.lit(9.0)).cast("float")
            ).alias("embedding"),
        ),
    )
    waved = ann_index.ivf_index_stats(engine, "didx", drift=True)
    assert waved["max_centroid_drift"] > thr  # the wave really trips it
    tripped = ann_index.ivf_index_maintenance(
        engine, "didx", max_appended_fraction=None, max_drift=thr
    )
    assert tripped["rebuilt"] is True
    assert any("max_centroid_drift" in r for r in tripped["reasons"])
    after = ann_index.ivf_index_stats(engine, "didx", drift=True)
    assert after["max_centroid_drift"] < thr  # back under the policy line


def _swap_geometry(engine, vt, k, seed=7):
    """Replace the vectors table with a freshly-fitted k-bucket geometry
    carried in the commit meta — the state a maintenance rebuild leaves."""
    from modelardb_rs_spark.operators.ann_index import _fitted_meta_fn
    from modelardb_rs_spark.operators.similarity import numpy_kmeans_buckets

    corpus = engine.table(vt).select("vec_id", "embedding")
    bucketed, fitted_C, _ = numpy_kmeans_buckets(
        corpus, k=k, id_col="vec_id", vec_col="embedding", seed=seed,
    )
    vectors = bucketed.select(
        "vec_id", "embedding", F.col("ivf_bucket").cast("int").alias("ivf_bucket")
    )
    cent_rows: list = []
    gen = int(engine.folder.log(vt).snapshot().version) + 1
    engine.overwrite(
        vt, vectors, partition_by=["ivf_bucket"],
        commit_meta=_fitted_meta_fn(engine, vectors, fitted_C, cent_rows, gen=gen),
    )


def test_write_expected_meta_is_conditional(engine, spark):
    """expected_meta=(key, value) aborts the commit when the snapshot's
    meta no longer carries that value — the guard for writes derived
    from the meta."""
    from modelardb_rs_spark.sources.datafolder import ConcurrentModificationError

    engine.read_sql("CREATE TABLE cm(x BIGINT)")
    df = spark.range(2).selectExpr("id AS x")
    engine.write("cm", df, commit_meta={"build_id": "aaa"})
    # matching expectation commits
    assert engine.write("cm", df, expected_meta=("build_id", "aaa")) is not None
    # stale expectation aborts
    engine.write("cm", df, commit_meta={"build_id": "bbb"})
    with pytest.raises(ConcurrentModificationError, match="build_id"):
        engine.write("cm", df, expected_meta=("build_id", "aaa"))


def test_append_retries_when_rebuild_swaps_geometry(engine, emb, monkeypatch):
    """An append racing a rebuild must not plant rows assigned against
    the superseded centroids (valid bucket ids in the new geometry, but
    the WRONG buckets — a silent recall hole). The append commit is
    conditional on the centroids generation; on conflict it re-reads
    the fresh geometry and re-assigns."""
    import numpy as np

    ann_index.build_ivf_index(engine, "rcidx", emb, bucket_col=None, n_buckets=4)
    vt = "rcidx__vectors"
    new_vecs = emb.where(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 70_000).alias("vec_id"), "embedding"
    )
    real_write = engine.write
    state = {"swapped": False}

    def racing_write(name, df, **kw):
        if name == vt and not state["swapped"]:
            state["swapped"] = True
            _swap_geometry(engine, vt, k=8)  # the rebuild lands first
        return real_write(name, df, **kw)

    monkeypatch.setattr(engine, "write", racing_write)
    out = ann_index.append_to_ivf_index(engine, "rcidx", new_vecs)
    assert out == {"appended": 3, "replayed": False}
    # the appended rows' buckets must match assignment under the NEW
    # (8-bucket) geometry, not the 4-bucket one the first attempt saw
    rows = ann_index._centroid_rows(engine, "rcidx")
    assert len(rows) == 8
    C = np.asarray([c for _, c, _ in sorted(rows)], dtype=np.float64)
    ids = np.asarray([b for b, _, _ in sorted(rows)], dtype="int32")
    got = {
        int(r["vec_id"]): int(r["ivf_bucket"])
        for r in engine.table(vt).where("vec_id >= 70000").collect()
    }
    src = {int(r["vec_id"]): list(r["embedding"]) for r in new_vecs.collect()}
    assert len(got) == 3
    for vid, bucket in got.items():
        v = np.asarray(src[vid], dtype=np.float64)
        cos = (C @ v) / (np.sqrt((C * C).sum(axis=1)) * np.sqrt((v * v).sum()))
        assert bucket == int(ids[int(np.argmax(cos))]), vid


def test_semantic_dedup_check_flags_indexed_near_dups(engine, emb):
    """The online SemDeDup gate: exact copies of indexed vectors (new
    ids) flag with dup_of = the indexed id at cosine ~1; negated
    vectors pass as unique (cosine -1 to their source)."""
    ann_index.build_ivf_index(engine, "gateidx", emb, bucket_col=None, n_buckets=6)
    copies = emb.where(F.col("vec_id").isin(3, 44)).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    )
    fresh = emb.where(F.col("vec_id") == 9).select(
        F.lit(600_009).alias("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: (-x).cast("float")).alias("embedding"),
    )
    out = ann_index.semantic_dedup_check(
        engine, "gateidx", copies.unionByName(fresh),
        threshold=0.999, nprobe=6,
    ).collect()
    by_id = {int(r["vec_id"]): r for r in out}
    assert len(by_id) == 3
    assert by_id[500_003]["dup_of"] == 3 and by_id[500_003]["dup_cos"] >= 0.999
    assert by_id[500_044]["dup_of"] == 44 and by_id[500_044]["dup_cos"] >= 0.999
    assert by_id[600_009]["dup_of"] is None and by_id[600_009]["dup_cos"] is None


def test_semantic_dedup_check_survives_degenerate_indexed_vector(engine, spark, emb):
    """A zero-norm vector admitted to the index scores NaN against every
    query, and Spark ranks NaN above all real cosines — the gate must
    drop NaN candidates BEFORE its top-1 rank, or one bad vector in a
    bucket masks every true duplicate there (silently disabling
    admission checking for that bucket)."""
    target = emb.where(F.col("vec_id") == 3)
    zero = target.select(
        F.lit(7777).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(0.0)).cast("float")).alias(
            "embedding"
        ),
        F.col("label"),  # same bucket as the target under bucket_col
    )
    corpus = emb.unionByName(zero)
    ann_index.build_ivf_index(engine, "nanidx", corpus, bucket_col="label")
    batch = target.select((F.col("vec_id") + 500_000).alias("vec_id"), "embedding")
    out = ann_index.semantic_dedup_check(
        engine, "nanidx", batch, threshold=0.999, nprobe=10
    ).collect()
    assert len(out) == 1
    assert out[0]["dup_of"] == 3 and out[0]["dup_cos"] >= 0.999


def test_semantic_dedup_check_null_vectors_never_flag(engine, spark, emb):
    """A NULL vector in the batch, or among a bucket_col index's rows,
    scores NaN against everything: NULL batch rows come back unflagged
    (also against each other), the NULL indexed row is nobody's
    dup_of, and a true copy in its bucket still flags — with and
    without chunking."""
    target = emb.where(F.col("vec_id") == 3)
    null_row = target.select(
        F.lit(7777).cast("long").alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.col("label"),
    )
    ann_index.build_ivf_index(
        engine, "nullidx", emb.unionByName(null_row), bucket_col="label"
    )
    batch = target.select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    ).unionByName(
        spark.createDataFrame(
            [(500_777, None), (500_778, None)], "vec_id long, embedding array<float>"
        )
    )
    for cap in (None, 50):
        out = {
            int(r["vec_id"]): r
            for r in ann_index.semantic_dedup_check(
                engine, "nullidx", batch, threshold=0.999, nprobe=10,
                max_bucket_rows=cap,
            ).collect()
        }
        assert len(out) == 3
        assert out[500_003]["dup_of"] == 3 and out[500_003]["dup_cos"] >= 0.999
        assert out[500_777]["dup_of"] is None and out[500_778]["dup_of"] is None


def test_semantic_dedup_check_probe_runs_once(engine, spark, emb):
    """The gate's mapInPandas coarse assignment feeds two jobs (the
    probed-bucket collect and the cogrouped verify) plus the caller's
    downstream actions — the localCheckpoint must make it execute
    exactly ONCE per call, not once per consumer (the inner half of
    commit f9daa85's one-probe-per-batch contract)."""
    first = emb.where(F.col("vec_id") < 400)
    ann_index.build_ivf_index(engine, "onceg", first, bucket_col="label")
    batch = emb.where(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    )
    n = batch.count()
    acc = spark.sparkContext.accumulator(0)
    out = ann_index.semantic_dedup_check(
        engine, "onceg", batch, threshold=0.999, nprobe=2, _probe_counter=acc
    )
    out.collect()
    out.count()  # a second consumer must not re-run the probe either
    # speculative/retried tasks could add a few ticks; a second full
    # evaluation would land at exactly 2x
    assert n <= acc.value < 2 * n


def test_semantic_dedup_check_within_batch_near_dups(engine, emb):
    """Two near-identical (NOT byte-identical — scaled, so exact
    within-batch collapse can't catch them) vectors in one batch admit
    exactly the min-id one: the larger id flags dup_of = the smaller.
    within_batch=False reproduces the documented co-admission hole."""
    first = emb.where(F.col("vec_id") < 300)
    ann_index.build_ivf_index(engine, "wbidx", first, bucket_col=None, n_buckets=4)
    src = emb.where(F.col("vec_id") == 305)
    a = src.select(F.lit(700_001).cast("long").alias("vec_id"), "embedding")
    b = src.select(
        F.lit(700_002).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.25)).cast("float")).alias(
            "embedding"
        ),
    )
    out = {
        int(r["vec_id"]): r
        for r in ann_index.semantic_dedup_check(
            engine, "wbidx", a.unionByName(b), threshold=0.999, nprobe=2
        ).collect()
    }
    assert out[700_001]["dup_of"] is None
    assert out[700_002]["dup_of"] == 700_001 and out[700_002]["dup_cos"] >= 0.999
    legacy = {
        int(r["vec_id"]): r
        for r in ann_index.semantic_dedup_check(
            engine, "wbidx", a.unionByName(b), threshold=0.999, nprobe=2,
            within_batch=False,
        ).collect()
    }
    assert legacy[700_001]["dup_of"] is None and legacy[700_002]["dup_of"] is None


def test_within_batch_chain_pins_pairwise_rule(engine, spark):
    """The transitive-chain decision (VERDICT r12 task 6), pinned: with
    A-B-C arriving together where cos(A,B) and cos(B,C) clear the
    threshold but cos(A,C) does not, the PAIRWISE smaller-id rule flags
    a row against ANY smaller-id peer clearing the threshold — whether
    or not that peer is itself admitted. So only A admits: B flags
    dup_of=A, and C flags dup_of=B (the stricter-than-transitive
    SemDeDup behavior; a fixpoint iteration would re-admit C). The
    docstring documents this as the contract."""
    import math

    def vec(a):
        return [float(math.cos(a)), float(math.sin(a))]

    th = math.acos(0.98)  # cos(A,B)=cos(B,C)=0.98; cos(A,C)=0.9208
    corpus = spark.createDataFrame(
        [(i, vec(math.pi + i * 0.1)) for i in range(20)],  # far from A/B/C
        "vec_id long, embedding array<float>",
    )
    ann_index.build_ivf_index(engine, "chaini", corpus, bucket_col=None, n_buckets=2)
    batch = spark.createDataFrame(
        [(100, vec(0.0)), (101, vec(th)), (102, vec(2 * th))],
        "vec_id long, embedding array<float>",
    )
    out = {
        int(r["vec_id"]): r
        for r in ann_index.semantic_dedup_check(
            engine, "chaini", batch, threshold=0.95, nprobe=2
        ).collect()
    }
    assert out[100]["dup_of"] is None
    assert out[101]["dup_of"] == 100 and out[101]["dup_cos"] >= 0.95
    assert out[102]["dup_of"] == 101 and out[102]["dup_cos"] >= 0.95


def test_vector_ingest_gate_admits_one_of_in_batch_near_dups(engine, emb):
    """End-to-end through the ingest path: a burst of near-identical
    (non-exact) vectors in one micro-batch appends exactly one row."""
    from modelardb_rs_spark.streaming.ingest import vector_ingest_batch

    first = emb.where(F.col("vec_id") < 300)
    ann_index.build_ivf_index(engine, "wbing", first, bucket_col=None, n_buckets=4)
    src = emb.where(F.col("vec_id") == 307)

    def scaled(s):
        # single-arg lambda: a two-arg one would receive (element, INDEX)
        return lambda x: (x * F.lit(s)).cast("float")

    burst = src.select(F.lit(710_001).cast("long").alias("vec_id"), "embedding")
    for i, scale in ((2, 1.5), (3, 0.5)):
        burst = burst.unionByName(
            src.select(
                F.lit(710_000 + i).cast("long").alias("vec_id"),
                F.transform("embedding", scaled(scale)).alias("embedding"),
            )
        )
    out = vector_ingest_batch(
        engine, "wbing", burst, 1, dedup={"threshold": 0.999, "nprobe": 4}
    )
    assert out["appended"] == 1
    assert out["deduped"] == 2 and out["collapsed_exact"] == 0
    admitted = engine.table("wbing__vectors").where("vec_id >= 710000").collect()
    assert [int(r["vec_id"]) for r in admitted] == [710_001]


def test_semantic_dedup_check_chunked_matches_unchunked(engine, emb):
    """A planted hot bucket (every vector in one bucket) chunked at
    max_bucket_rows=50 must produce bit-identical flags to the
    single-task path — per-chunk bests meet in the same global
    (cos desc, id asc) window."""
    corpus = emb.withColumn("hot", F.lit(0))
    ann_index.build_ivf_index(engine, "hotg", corpus, bucket_col="hot")
    copies = emb.where(F.col("vec_id") % 83 == 0).select(
        (F.col("vec_id") + 720_000).alias("vec_id"), "embedding"
    )
    near = emb.where(F.col("vec_id") == 11).select(
        F.lit(730_000).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
    )
    batch = copies.unionByName(near)
    kw = dict(threshold=0.999, nprobe=1)
    plain = ann_index.semantic_dedup_check(
        engine, "hotg", batch, max_bucket_rows=None, **kw
    )
    chunked = ann_index.semantic_dedup_check(
        engine, "hotg", batch, max_bucket_rows=50, **kw
    )
    p = sorted(map(tuple, plain.collect()))
    c = sorted(map(tuple, chunked.collect()))
    assert p == c
    assert any(r[-2] is not None for r in p)  # the gate actually flagged


def test_semantic_dedup_check_prescreen_reads_codes_and_matches_exact(engine, emb):
    """prescreen=s on an IVF-PQ index: the cogroup's corpus scan reads
    CODE columns only (column pruning drops the raw vectors — the
    ~dim*4/m gate-I/O bound), the exact re-rank touches raw vectors for
    the shortlist only, and every prescreen flag is exact-verified so
    flagged_pre <= flagged_exact with full recall on the fixture."""
    ann_index.build_ivfpq_index(engine, "pqg", emb, bucket_col="label")
    copies = emb.where(F.col("vec_id") % 97 == 0).select(
        (F.col("vec_id") + 740_000).alias("vec_id"), "embedding"
    )
    negated = emb.where(F.col("vec_id") % 101 == 0).select(
        (F.col("vec_id") + 750_000).alias("vec_id"),
        F.transform("embedding", lambda x: (-x).cast("float")).alias("embedding"),
    )
    batch = copies.unionByName(negated)
    kw = dict(threshold=0.999, nprobe=2, within_batch=False)
    exact = ann_index.semantic_dedup_check(engine, "pqg", batch, **kw)
    pre = ann_index.semantic_dedup_check(engine, "pqg", batch, prescreen=8, **kw)
    e = {int(r["vec_id"]): r for r in exact.collect()}
    p = {int(r["vec_id"]): r for r in pre.collect()}
    flagged_e = {k for k, r in e.items() if r["dup_of"] is not None}
    flagged_p = {k for k, r in p.items() if r["dup_of"] is not None}
    assert flagged_p <= flagged_e  # rerank is exact: no false flags ever
    assert flagged_e, "fixture must exercise the gate"
    assert flagged_p == flagged_e  # recall floor: 1.0 on the fixture
    for k in flagged_p:
        assert p[k]["dup_of"] == e[k]["dup_of"]
        assert p[k]["dup_cos"] == e[k]["dup_cos"]
    # plan: at least one vectors scan reads pq_codes WITHOUT the raw
    # embedding column (the ADC pre-screen scan); the rerank scan may
    # read embeddings for the shortlist join
    plan = pre._jdf.queryExecution().executedPlan().toString()
    # pq_codes only exists in the vectors table, so matching on the
    # ReadSchema alone is enough (the Location string is truncated to
    # ~100 chars and can cut off before the table name)
    read_schemas = [
        seg.split("ReadSchema:")[1].splitlines()[0]
        for seg in plan.split("FileScan")[1:]
        if "ReadSchema:" in seg
    ]
    assert any("pq_codes" in rs and "embedding" not in rs for rs in read_schemas), (
        read_schemas
    )


def test_semantic_dedup_check_prescreen_on_opq_index(engine, emb):
    """The ADC pre-screen on an OPQ index must rotate the LUT side of
    the scoring (codes quantize r @ R): flags still agree exactly with
    the exact gate on planted duplicates — a pre-screen that forgot the
    rotation would score garbage ADC and miss the shortlist."""
    ann_index.build_ivfpq_index(engine, "opqg", emb, bucket_col="label", opq=True)
    copies = emb.where(F.col("vec_id") % 97 == 0).select(
        (F.col("vec_id") + 740_000).alias("vec_id"), "embedding"
    )
    fresh = emb.where(F.col("vec_id") % 101 == 0).select(
        (F.col("vec_id") + 750_000).alias("vec_id"),
        F.transform("embedding", lambda x: (-x).cast("float")).alias("embedding"),
    )
    batch = copies.unionByName(fresh)
    kw = dict(threshold=0.999, nprobe=2, within_batch=False)
    exact = ann_index.semantic_dedup_check(engine, "opqg", batch, **kw)
    pre = ann_index.semantic_dedup_check(engine, "opqg", batch, prescreen=8, **kw)
    e = {int(r["vec_id"]): r["dup_of"] for r in exact.collect()}
    p = {int(r["vec_id"]): r["dup_of"] for r in pre.collect()}
    flagged_e = {k for k, d in e.items() if d is not None}
    flagged_p = {k for k, d in p.items() if d is not None}
    assert flagged_e, "fixture must exercise the gate"
    assert flagged_p == flagged_e
    assert all(p[k] == e[k] for k in flagged_p)


def test_semantic_dedup_check_prescreen_requires_pq_index(engine, emb):
    ann_index.build_ivf_index(engine, "nopq", emb, bucket_col="label")
    batch = emb.limit(2).select((F.col("vec_id") + 760_000).alias("vec_id"), "embedding")
    with pytest.raises(ValueError, match="pqbooks"):
        ann_index.semantic_dedup_check(engine, "nopq", batch, prescreen=4)


def test_cache_put_is_thread_safe():
    """The per-engine metadata caches are read and refilled by probe
    threads racing rebuild threads: _cache_put must never raise under
    concurrent eviction (the old read-evict-write re-indexed the shared
    dict and could KeyError/RuntimeError mid-race)."""
    import threading

    from modelardb_rs_spark.operators.ann_index import _cache_put

    cache = {}
    errs = []

    def worker(i):
        try:
            for j in range(3000):
                key = ("tbl", i, j)
                _cache_put(cache, key, j)
                cache.get(key)
        except Exception as e:  # pragma: no cover - only on regression
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs


def test_legacy_pre_meta_index_upgrades_on_first_maintenance(engine, emb):
    """An index built before the commit-meta layout (no ann_centroids
    payload) upgrades IN PLACE on its first maintenance call: the
    mirror table's centroids are installed as the vectors table's meta
    in one empty-append commit — no rebuild, no data rewrite — and
    probes are snapshot-atomic from then on. Only a crashed legacy
    rebuild (disagreeing stamps — the mirror is one geometry behind)
    still forces a healing rebuild."""
    ann_index.build_ivf_index(engine, "legidx", emb, bucket_col=None, n_buckets=4)
    vt, ct = "legidx__vectors", "legidx__centroids"
    files_before = sorted(engine.folder.log(vt).snapshot().paths)
    # simulate the legacy layout: strip the meta payload, stamps aligned
    # the way a successful legacy rebuild left them (build already
    # stamped the mirror with version 0)
    engine.folder.log(vt).commit(
        lambda snap: ("append", [], [], {}), txn=("ivf_rebuild::legidx", 0)
    )
    assert "ann_centroids" not in (engine.folder.log(vt).snapshot().meta or {})
    out = ann_index.ivf_index_maintenance(
        engine, "legidx", max_appended_fraction=0.9
    )
    assert out["rebuilt"] is False  # an upgrade is NOT a rebuild
    snap = engine.folder.log(vt).snapshot()
    assert "ann_centroids" in (snap.meta or {})
    assert sorted(snap.paths) == files_before  # no data rewrite
    # installed meta matches the mirror exactly (float32-rounded)
    meta_rows = {
        (int(b), tuple(c), int(n)) for b, c, n in snap.meta["ann_centroids"]
    }
    mirror = {
        (int(r["ivf_bucket"]), tuple(r["centroid"]), int(r["n_vectors"]))
        for r in engine.table(ct).collect()
    }
    assert meta_rows == mirror
    # probes work and are now pinned to the meta path
    q = emb.where(F.col("vec_id") == 5).select(
        F.lit(999_999).alias("vec_id"), "embedding"
    )
    hit = ann_index.ivf_index_topk(engine, "legidx", q, k=1, nprobe=4).collect()
    assert hit and hit[0]["neighbor_id"] == 5 and abs(hit[0]["cos"] - 1.0) < 1e-5
    # second call: branch never fires again, still no rebuild
    again = ann_index.ivf_index_maintenance(
        engine, "legidx", max_appended_fraction=0.9
    )
    assert again["rebuilt"] is False


def test_crashed_legacy_rebuild_still_heals_by_rebuilding(engine, emb):
    """Disagreeing legacy stamps mean the mirror lags the vectors table
    by one geometry — installing it as meta would freeze the torn pair,
    so maintenance must rebuild instead of upgrading in place."""
    ann_index.build_ivf_index(engine, "crashidx", emb, bucket_col=None, n_buckets=4)
    vt = "crashidx__vectors"
    # legacy layout with a crash signature: vectors stamped ahead of the
    # mirror (the legacy rebuild's first commit landed, second didn't)
    engine.folder.log(vt).commit(
        lambda snap: ("append", [], [], {}), txn=("ivf_rebuild::crashidx", 3)
    )
    out = ann_index.ivf_index_maintenance(
        engine, "crashidx", max_appended_fraction=0.9
    )
    assert out["rebuilt"] is True
    assert any("crashed pre-meta rebuild" in r for r in out["reasons"])
    # the healing rebuild installed the meta: upgraded, consistent
    assert "ann_centroids" in (engine.folder.log(vt).snapshot().meta or {})


def test_driver_side_codebook_sample_matches_spark_sample(engine, emb):
    """The IVF-PQ build derives its PQ/OPQ training residuals from the
    coarse-fit sample DRIVER-SIDE (``ann_index._residual_sample``: hash-
    order prefix, ``nearest_centroids`` assignment, float32 residual
    subtraction) — it must be BIT-IDENTICAL to pq._driver_sample over
    the build's distributed residual frame, or the trained books (and
    every stored code) would silently diverge from the Spark-sample
    path."""
    import numpy as np

    from modelardb_rs_spark.operators import pq as pq_ops

    vectors, C, _, X = ann_index._coarse_quantize(
        "replay", emb, None, 4, "vec_id", "embedding", 42, 65536
    )
    resid = ann_index._residuals(
        emb.sparkSession, vectors, ann_index._cent_pairs(C, None), "embedding"
    )
    spark_sample = pq_ops._driver_sample(resid, "vec_id", "__resid__", 4096, 42)
    derived = ann_index._residual_sample(X, C, 4096, 65536)
    assert spark_sample.shape == derived.shape
    assert np.array_equal(spark_sample, derived)


def _nearest_reference(X, C, n):
    """The unchunked N x k x dim form every kernel copy used to inline."""
    import numpy as np

    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    return np.argsort(d2, axis=1, kind="stable")[:, :n]


@pytest.mark.parametrize("n", [1, 3])
def test_nearest_centroids_matches_unchunked_reference(n):
    """The chunked kernel equals the one-shot reference, with exact ties
    (duplicate centroids) going to the lowest index, for row counts on
    both sides of a chunk boundary."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.normal(size=(128, 64))
    C = np.concatenate([base, base[:32]])  # rows 128.. duplicate 0..31
    chunk = (1 << 22) // C.size  # rows per chunk at this k x dim
    for rows in (chunk - 1, chunk, chunk + 1, 2 * chunk + 3):
        # rows sitting exactly on duplicated centroids tie at distance 0
        X = np.concatenate([C[128:], rng.normal(size=(rows - 32, 64))])
        got = similarity.nearest_centroids(X, C, n)
        ref = _nearest_reference(X, C, n)
        assert np.array_equal(got, ref[:, 0] if n == 1 else ref)
    assert np.array_equal(similarity.nearest_centroids(C[128:], C), np.arange(32))


def test_nearest_centroids_memory_is_chunk_bounded():
    """2048 x 256 rows against 256 x 256 centroids: the unchunked
    difference tensor would be 1.07 GB; the kernel stays near its
    ~32 MB chunk."""
    import tracemalloc

    import numpy as np

    rng = np.random.default_rng(0)
    X, C = rng.normal(size=(2048, 256)), rng.normal(size=(256, 256))
    tracemalloc.start()
    try:
        similarity.nearest_centroids(X, C)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 128 << 20


@pytest.mark.parametrize("builder", ["build_ivf_index", "build_ivfpq_index"])
def test_empty_corpus_build_names_the_index(engine, emb, builder):
    """A sampled k-means build over an empty corpus fails with a clear
    ValueError naming the index, not an IndexError from inside numpy."""
    with pytest.raises(ValueError, match="'emptyidx'.*empty"):
        getattr(ann_index, builder)(
            engine, "emptyidx", emb.where("vec_id < 0"), bucket_col=None, n_buckets=4
        )


def test_ivfpq_label_build_stores_ivf_centroid_meta(engine, emb):
    """The bucket_col IVF-PQ build takes its centroids AND counts from
    the same fused aggregate as the IVF build: identical stored meta."""
    ann_index.build_ivf_index(engine, "lab_ivf", emb, bucket_col="label")
    ann_index.build_ivfpq_index(engine, "lab_pq", emb, bucket_col="label", m=8, ks=16)

    def meta(name):
        cents = engine.folder.log(f"{name}__vectors").snapshot().meta["ann_centroids"]
        return sorted(map(repr, cents))

    assert meta("lab_pq") == meta("lab_ivf")
    assert sum(n for _, _, n in engine.folder.log(
        "lab_pq__vectors").snapshot().meta["ann_centroids"]) == emb.count()


def test_ivf_build_over_ivfpq_index_drops_its_books(engine, emb):
    """Rebuilding a name that held an IVF-PQ index as plain IVF must not
    leave the old books behind: appends would otherwise PQ-encode into a
    vectors table without code columns."""
    ann_index.build_ivfpq_index(engine, "swap", emb, bucket_col="label", m=8, ks=16)
    ann_index.build_ivf_index(engine, "swap", emb, bucket_col="label")
    assert "swap__pqbooks" not in engine.tables()
    out = ann_index.append_to_ivf_index(
        engine, "swap", emb.where("vec_id < 5").withColumn(
            "vec_id", F.col("vec_id") + 100000)
    )
    assert out["appended"] == 5


def test_fitted_counts_fallback_reads_staged_files_only(engine, emb, monkeypatch, caplog):
    """When staged footers are unreadable the fitted build's bucket
    counts must come from ONE bounded scan of the staged files — never
    a re-execution of the build's input lineage (the round-13 hazard:
    the fused build had dropped its persist, so the old vectors-frame
    fallback silently re-ran the whole Python assign/encode pass). The
    fallback is loud (warning log) and surfaced in the returned stats."""
    import logging

    from modelardb_rs_spark.sources import datafolder as dfm

    monkeypatch.setattr(dfm, "_parquet_num_rows", lambda *a, **k: None)
    with caplog.at_level(logging.WARNING):
        stats = ann_index.build_ivfpq_index(
            engine, "fbidx", emb, bucket_col=None, n_buckets=4, m=8, ks=16
        )
    assert stats["counts_fallback"] is True
    assert any("falling back" in r.message for r in caplog.records)
    assert stats["n_vectors"] == emb.count()
    # the fallback counts are the real per-bucket histogram: the stats
    # view (commit-log meta) must agree with a direct table count
    got = {
        r["ivf_bucket"]: r["n"]
        for r in engine.table("fbidx__vectors")
        .groupBy("ivf_bucket")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    meta = engine.folder.log("fbidx__vectors").snapshot().meta
    assert {b: n for b, _, n in meta["ann_centroids"]} == got


def _flat_and_pq_probe(path, engine, emb):
    """``probe(queries, k)`` through one of the four paths that share
    ``pq.adc_topk``, over ``emb`` bucketed by its label."""
    from modelardb_rs_spark.operators import pq

    if path == "pq_topk":
        books = pq.train_pq_codebooks(emb, m=8, ks=16)
        encoded = pq.encode_pq(emb, books)
        return lambda q, k: pq.pq_topk(encoded, books, q, k=k)
    if path == "ivfpq_topk":
        ann_index.build_ivfpq_index(engine, "probeidx", emb, bucket_col="label")
        return lambda q, k: ann_index.ivfpq_topk(engine, "probeidx", q, k=k, nprobe=2)
    if path == "ivf_index_topk":
        ann_index.build_ivf_index(engine, "probeidx", emb, bucket_col="label")
        return lambda q, k: ann_index.ivf_index_topk(engine, "probeidx", q, k=k, nprobe=2)
    return lambda q, k: similarity.ivf_topk(emb, q, k=k, nprobe=2, bucket_col="label")


@pytest.mark.parametrize("path", ["pq_topk", "ivfpq_topk", "ivf_index_topk", "ivf_topk"])
def test_bad_query_rows_yield_no_rows(engine, emb, path):
    """A query with a NULL id, a NULL vector, a NULL element or the
    wrong dimension yields no rows (as in brute_force_topk) and leaves
    the other queries' results alone; query_id keeps the input's INT
    type."""
    from pyspark.sql.types import IntegerType

    probe = _flat_and_pq_probe(path, engine, emb)

    def q(src, qid, vec=F.col("embedding")):
        return emb.where(F.col("vec_id") == src).select(
            F.lit(qid).cast("int").alias("vec_id"), vec.alias("embedding")
        )

    good = q(3, 1)
    bad = [
        q(4, None),
        q(5, 2, F.lit(None).cast("array<float>")),
        q(6, 3, F.slice("embedding", 1, 3)),
        q(7, 4, F.transform("embedding", lambda x: F.when(x > 0, x))),
    ]
    mixed = good
    for b in bad:
        mixed = mixed.unionByName(b)
    out = probe(mixed, 3)
    assert out.schema["query_id"].dataType == IntegerType()
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, probe(good, 3).collect()))
    assert {r["query_id"] for r in out.collect()} == {1}


def _column_probe(spark, Q, cents, nprobe):
    """The Column centroid probe the IVF paths ran before the driver
    probe: cross join, ``similarity.cosine``, ``row_number`` over
    (cos desc, bucket). Returns {query: (sorted buckets, their dots)}."""
    from pyspark.sql import Window

    from modelardb_rs_spark.frames import rows_frame

    q = rows_frame(
        spark, [(i, [float(x) for x in v]) for i, v in enumerate(Q)],
        "query_id INT, qv ARRAY<FLOAT>",
    )
    c = rows_frame(spark, [(b, list(v)) for b, v in cents], "bucket INT, cv ARRAY<FLOAT>")
    w = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("bucket"))
    rows = (
        q.crossJoin(c)
        .withColumn("ccos", similarity.cosine(F.col("qv"), F.col("cv")))
        .withColumn("dot", similarity.dot(F.col("qv"), F.col("cv")))
        .withColumn("pr", F.row_number().over(w))
        .where(F.col("pr") <= nprobe)
        .collect()
    )
    out = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["bucket"])):
        out.setdefault(r["query_id"], ([], []))
        out[r["query_id"]][0].append(r["bucket"])
        out[r["query_id"]][1].append(r["dot"])
    return out


@pytest.mark.parametrize("nprobe", [1, 3, 12])
def test_driver_probe_matches_column_probe(spark, nprobe):
    """``pq.probe_buckets`` picks the buckets the Column probe picked,
    with its dots bit for bit, on random vectors plus a zero-norm query
    (all NULL: the lowest bucket ids), a NaN component in a query (all
    NaN) and in a centroid (ranks first), a zero centroid (NULL, ranks
    last) and duplicate centroids (ties to the lower bucket id)."""
    import numpy as np

    from modelardb_rs_spark.operators import pq

    rng = np.random.default_rng(5)
    dim = 8
    C = rng.normal(size=(12, dim)).astype(np.float32)
    C[4] = C[9]  # tied centroids
    C[2] = 0.0  # zero-norm centroid
    Cn = C.copy()
    Cn[6, 3] = np.nan
    Q = rng.normal(size=(20, dim)).astype(np.float32)
    Q[1] = 0.0
    Q[2, 5] = np.nan
    Q[3] = C[4] * np.float32(2.0)  # exactly on the tied pair
    bids = [7, 3, 11, 0, 5, 1, 9, 2, 8, 10, 4, 6]
    for cents_f32 in (C, Cn):
        cents = [(b, [float(x) for x in c]) for b, c in zip(bids, cents_f32)]
        want = _column_probe(spark, Q, cents, nprobe)
        got = pq.probe_buckets(Q.astype(np.float64), cents, nprobe)
        for i, (pb, pdot) in enumerate(got):
            assert pb.tolist() == want[i][0], (i, pb, want[i])
            np.testing.assert_array_equal(pdot, np.asarray(want[i][1], dtype=np.float64))


@pytest.mark.parametrize("path", ["ivf_index_topk", "ivf_topk"])
def test_zero_norm_corpus_vector_never_takes_a_slot(engine, spark, emb, path):
    """A zero-norm vector in a probed bucket scores no cosine: it never
    appears in the top-k and never pushes out the true k-th neighbour,
    so the result equals the probe of the corpus without it."""
    target = emb.where(F.col("vec_id") == 3)
    zero = target.select(
        F.lit(7777).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(0.0)).cast("float")).alias("embedding"),
        F.col("label"),
    )
    queries = emb.where(F.col("vec_id") < 6).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    )
    results = []
    for name, corpus in (("with", emb.unionByName(zero)), ("without", emb)):
        if path == "ivf_index_topk":
            ann_index.build_ivf_index(engine, f"z{name}", corpus, bucket_col="label")
            out = ann_index.ivf_index_topk(engine, f"z{name}", queries, k=5, nprobe=10)
        else:
            out = similarity.ivf_topk(corpus, queries, k=5, nprobe=10, bucket_col="label")
        results.append(sorted(map(tuple, out.collect())))
    assert len(results[0]) == 6 * 5
    assert 7777 not in {r[1] for r in results[0]}
    assert results[0] == results[1]


@pytest.mark.parametrize("path", ["ivf_index_topk", "ivf_topk"])
def test_flat_ivf_query_set_is_bounded(engine, spark, emb, path):
    """The flat IVF probes collect their query set through
    ``collect_query_rows``: one row over the bound raises."""
    queries = spark.range(similarity.MAX_COLLECTED_QUERIES + 1).selectExpr(
        "id AS vec_id", "array_repeat(CAST(1.0 AS FLOAT), 64) AS embedding"
    )
    if path == "ivf_index_topk":
        ann_index.build_ivf_index(engine, "boundidx", emb, bucket_col="label")
    with pytest.raises(ValueError, match="query set exceeds"):
        if path == "ivf_index_topk":
            ann_index.ivf_index_topk(engine, "boundidx", queries, k=5)
        else:
            similarity.ivf_topk(emb, queries, k=5)


def test_bucket_means_match_numpy_truth(spark):
    """The one bucket-mean kernel: float64 sums over partitions merged
    per bucket, means rounded to float32. A NULL vector is skipped, a
    NaN element makes that bucket's mean NaN there, and the counts are
    the non-NULL vectors. Vectors of mixed length raise."""
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(60, 6)).astype(np.float32)
    rows = [(int(i % 4), [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows.append((1, None))
    rows[6] = (2, [float(x) for x in vecs[6][:3]] + [float("nan")] + [float(x) for x in vecs[6][4:]])
    df = spark.createDataFrame(rows, "b INT, v ARRAY<FLOAT>").repartition(3)
    got = similarity.bucket_means(df, "v", "b")
    assert [b for b, _, _ in got] == [0, 1, 2, 3]
    for b, mean, n in got:
        X = np.asarray([r[1] for r in rows if r[0] == b and r[1] is not None], dtype=np.float64)
        assert n == len(X)
        truth = X.mean(axis=0).astype(np.float32)
        assert np.array_equal(np.asarray(mean, np.float32), truth, equal_nan=True)
    assert np.isnan(got[2][1][3]) and not np.isnan(got[2][1][2])
    mixed = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0])], "b INT, v ARRAY<FLOAT>"
    )
    with pytest.raises(ValueError, match="mixed length"):
        similarity.bucket_means(mixed, "v", "b")


def test_kmeans_multiprobe_first_probe_is_the_nprobe1_bucket(emb):
    """``nprobe=2`` emits every vector twice, its nearest centroid
    first, from the same fit as ``nprobe=1``."""
    import numpy as np

    one, C1, _ = similarity.numpy_kmeans_buckets(emb, k=6)
    two, C2, _ = similarity.numpy_kmeans_buckets(emb, k=6, nprobe=2)
    assert np.array_equal(C1, C2)
    first = {r["vec_id"]: r["ivf_bucket"] for r in one.collect()}
    probes: dict = {}
    for r in two.collect():
        probes.setdefault(r["vec_id"], []).append(r["ivf_bucket"])
    assert probes.keys() == first.keys()
    assert all(len(p) == 2 and p[0] == first[i] and p[1] != p[0] for i, p in probes.items())


def test_nan_vector_does_not_collapse_kmeans_build(engine, spark, emb):
    """One all-NaN vector in the corpus must not enter the fit: it
    would average into a centroid, make it NaN and send every vector's
    argmin to bucket 0."""
    emb = emb.select("vec_id", "embedding")
    nan_row = spark.range(1).selectExpr(
        "CAST(1000000 AS BIGINT) AS vec_id",
        "array_repeat(CAST('NaN' AS FLOAT), 64) AS embedding",
    )
    stats = ann_index.build_ivf_index(
        engine, "nanidx", emb.unionByName(nan_row), bucket_col=None, n_buckets=8
    )
    assert stats["n_buckets"] == 8 and stats["n_vectors"] == 501
    with pytest.raises(ValueError, match="NaN"):
        similarity.numpy_kmeans_buckets(nan_row, k=2)
    with pytest.raises(TypeError):
        similarity.numpy_kmeans_buckets(emb, k=2, fit_sample=None)


def _warm_jobs(spark, group: str, fn) -> int:
    """Spark jobs of ``fn`` run once more, after a warm-up run, under
    job group ``group``."""
    sc = spark.sparkContext
    fn()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bucket_means_and_its_callers_job_counts(spark, emb):
    """Warm job counts: the bucket-mean kernel runs 1 job (partials per
    partition, one ``reduceByKey`` merge); a single-query inline
    ``ivf_topk`` at most 4 (query collect, bucket means, the rank's
    shuffle stage and result; 6 with the posexplode centroid pass); a
    ``semantic_dedup`` with the numpy fit at most 12 (30 with the MLlib
    fit)."""
    means = lambda: similarity.bucket_means(emb, "embedding", "label")  # noqa: E731
    assert _warm_jobs(spark, "bucket_means_jobs", means) == 1
    q = emb.where(F.col("vec_id") == 3)
    probe = lambda: similarity.ivf_topk(emb, q, k=10, nprobe=2, bucket_col="label").collect()  # noqa: E731
    assert _warm_jobs(spark, "inline_ivf_jobs", probe) <= 4
    dedup = lambda: similarity.semantic_dedup(emb, threshold=0.999, n_clusters=8).count()  # noqa: E731
    assert _warm_jobs(spark, "semantic_dedup_jobs", dedup) <= 12
