"""LLM-pipeline operator tests: dedup recall, similarity recall, text
analysis determinism, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from modelardb_rs_spark.operators import dedup as dedup_ops
from modelardb_rs_spark.operators import multimodal as mm_ops
from modelardb_rs_spark.operators import similarity as sim_ops
from modelardb_rs_spark.operators import text as text_ops


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base),  # exact dup of 0
        Row(doc_id=2, text=base + " with a tiny suffix"),  # near dup
        Row(doc_id=3, text="completely different words about spark engines"),
        Row(doc_id=4, text="der hund und die katze und das haus und der baum"),
        Row(doc_id=5, text="  the   quick brown fox jumps over the lazy dog again and again  "),  # ws dup of 0
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(docs):
    groups = dedup_ops.exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 3
    assert groups[0].doc_ids == [0, 1, 5]
    kept = dedup_ops.distinct_documents(docs).select("doc_id").collect()
    assert sorted(r.doc_id for r in kept) == [0, 2, 3, 4]


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in dedup_ops.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 5) in pairs and pairs[(0, 5)] == 1.0
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert not any({a, b} == {0, 3} for a, b in pairs)


def test_minhash_lsh_recall(docs):
    """LSH candidates must cover every truly similar pair (identical docs
    always share every band)."""
    found = {
        (r.id_a, r.id_b)
        for r in dedup_ops.minhash_dedup_pairs(docs, threshold=0.9, k=16, bands=8).collect()
    }
    assert {(0, 1), (0, 5), (1, 5)} <= found


def test_shingle_sampling_default_off_and_recall(docs):
    """shingle_keep_mod=1/None must be byte-identical to the default
    path; a sampled run keeps exact precision (every emitted pair also
    appears in the exact all-pairs Jaccard at the same threshold) and
    still finds the identical-doc pairs (every shared shingle survives
    or dies TOGETHER under consistent sampling, so identical shingle
    sets keep identical signatures)."""
    default = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup_ops.minhash_dedup_pairs(docs, threshold=0.3, k=16, bands=8).collect()
    }
    off = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup_ops.minhash_dedup_pairs(
            docs, threshold=0.3, k=16, bands=8, shingle_keep_mod=1
        ).collect()
    }
    assert default == off
    sampled = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup_ops.minhash_dedup_pairs(
            docs, threshold=0.3, k=16, bands=8, shingle_keep_mod=2
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup_ops.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert sampled <= exact  # precision stays exact under sampling
    assert {(0, 1, 1.0), (0, 5, 1.0), (1, 5, 1.0)} <= sampled


def test_lsh_bucket_cap_prunes_degenerate_buckets(spark):
    """max_bucket must drop the quadratic pairs of an oversized bucket
    while keeping every pair of a small true-dup bucket."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [Row(doc_id=0, text=base), Row(doc_id=1, text=base)]  # true dups
    # 30 identical boilerplate docs: one degenerate bucket per band
    rows += [Row(doc_id=100 + i, text="standard legal disclaimer text here") for i in range(30)]
    docs = spark.createDataFrame(rows)
    sigs = dedup_ops.minhash_signatures(docs, k=16)
    uncapped = {(r.id_a, r.id_b) for r in dedup_ops.lsh_candidate_pairs(sigs, bands=8).collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in dedup_ops.lsh_candidate_pairs(sigs, bands=8, max_bucket=10).collect()
    }
    assert (0, 1) in uncapped and (0, 1) in capped
    boiler_uncapped = {p for p in uncapped if p[0] >= 100}
    assert len(boiler_uncapped) == 30 * 29 // 2  # the quadratic blowup
    assert not any(p[0] >= 100 for p in capped)  # entirely pruned
    assert capped == {(0, 1)}


def test_lsh_auto_cap_sizes_from_bucket_distribution(spark):
    """max_bucket="auto" prunes degenerate buckets without a hand-tuned
    constant: cap = max(floor, mult x MEDIAN bucket size), so the 30-doc
    boilerplate bucket (far above the mostly-size-2 median) drops and
    the true-dup buckets survive — same outcome as the manual cap the
    probe tuned by hand. Median-anchored on purpose: a tail quantile
    fails when degenerate buckets stop being rare (measured at 4M docs,
    SCALE.md "Round-8")."""
    rows = []
    expected = set()
    for i in range(40):  # 40 distinct true-dup pairs -> many tiny buckets
        # every shingle carries i: no cross-group shingles, no accidental
        # band collisions to pollute the expected candidate set
        text = " ".join(f"w{i}x{j}" for j in range(8))
        rows += [Row(doc_id=2 * i, text=text), Row(doc_id=2 * i + 1, text=text)]
        expected.add((2 * i, 2 * i + 1))
    rows += [Row(doc_id=100 + i, text="standard legal disclaimer text here") for i in range(30)]
    docs = spark.createDataFrame(rows)
    sigs = dedup_ops.minhash_signatures(docs, k=16)
    auto = {
        (r.id_a, r.id_b)
        for r in dedup_ops.lsh_candidate_pairs(
            sigs, bands=8, max_bucket="auto", auto_cap_floor=4, auto_cap_median_mult=2
        ).collect()
    }
    assert auto == expected
    # a floor above every bucket size disables pruning entirely
    uncapped = {
        (r.id_a, r.id_b)
        for r in dedup_ops.lsh_candidate_pairs(
            sigs, bands=8, max_bucket="auto", auto_cap_floor=1000, auto_cap_median_mult=2
        ).collect()
    }
    assert len({p for p in uncapped if p[0] >= 100}) == 30 * 29 // 2


def test_simhash_auto_cap(spark):
    """simhash_near_pairs(max_bucket="auto"): same median rule as LSH —
    the identical-boilerplate family (which collides in EVERY band)
    prunes, the small true-dup pair survives."""
    rows = []
    for i in range(40):
        text = " ".join(f"w{i}x{j}" for j in range(8))
        rows += [Row(doc_id=2 * i, text=text), Row(doc_id=2 * i + 1, text=text)]
    rows += [Row(doc_id=100 + i, text="standard legal disclaimer text here") for i in range(30)]
    docs = spark.createDataFrame(rows)
    auto = {
        (r.id_a, r.id_b)
        for r in dedup_ops.simhash_near_pairs(
            docs, max_hamming=3, max_bucket="auto",
            auto_cap_floor=4, auto_cap_median_mult=2,
        ).collect()
    }
    assert {(2 * i, 2 * i + 1) for i in range(40)} <= auto
    assert not any(a >= 100 for a, _ in auto)


def test_max_bucket_rejects_unknown_strings(spark):
    """Any string other than the exact literal "auto" must raise, not
    fall into the numeric branch (where a non-ANSI cast turns it into
    NULL, the cap predicate drops EVERY bucket, and the operator
    silently returns zero candidate pairs)."""
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="a b c d e f g h"), Row(doc_id=1, text="a b c d e f g h")]
    )
    sigs = dedup_ops.minhash_signatures(docs, k=16)
    with pytest.raises(ValueError, match="max_bucket"):
        dedup_ops.lsh_candidate_pairs(sigs, bands=8, max_bucket="Auto")
    with pytest.raises(ValueError, match="max_bucket"):
        dedup_ops.simhash_near_pairs(docs, max_bucket="AUTO")


def test_verify_candidates_matches_exact(docs):
    """verify_candidate_pairs fed every pair must reproduce the exact
    inverted-index Jaccard operator bit-for-bit."""
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    spark = docs.sparkSession
    all_pairs = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a in ids for b in ids if a < b]
    )
    via_verify = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup_ops.verify_candidate_pairs(docs, all_pairs, threshold=0.1).collect()
    }
    via_exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup_ops.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert via_verify == via_exact


def test_minhash_pipeline_plan_has_no_allpairs_join(docs):
    """The scale pipeline's verifier must be per-pair array math, not the
    quadratic shingle inverted-index self-join."""
    import re

    plan = dedup_ops.minhash_dedup_pairs(docs, threshold=0.5)._jdf.queryExecution().analyzed().toString()
    assert "array_intersect" in plan
    # the signature stage explodes shingles (linear), but nothing may
    # equi-join two exploded shingle columns (quadratic in co-shingles)
    assert not re.search(r"shingle#\d+ = shingle#\d+", plan)


def test_simhash_near_pairs(docs):
    sh = {r.doc_id: r.simhash for r in dedup_ops.simhash(docs).collect()}
    assert sh[0] == sh[1] == sh[5]  # identical token multisets
    near = {(r.id_a, r.id_b) for r in dedup_ops.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert (0, 1) in near and (0, 5) in near


def test_simhash_bucket_cap(spark):
    """simhash_near_pairs(max_bucket=) prunes an identical-boilerplate
    family (whole-simhash collisions, every band) while a small
    true-dup pair keeps matching."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [Row(doc_id=0, text=base), Row(doc_id=1, text=base)]
    rows += [Row(doc_id=100 + i, text="standard legal disclaimer text here") for i in range(30)]
    docs = spark.createDataFrame(rows)
    uncapped = {(r.id_a, r.id_b) for r in dedup_ops.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert (0, 1) in uncapped
    assert sum(1 for a, _ in uncapped if a >= 100) == 30 * 29 // 2
    capped = {
        (r.id_a, r.id_b)
        for r in dedup_ops.simhash_near_pairs(docs, max_hamming=3, max_bucket=10).collect()
    }
    assert capped == {(0, 1)}


def test_duplicate_clusters(spark):
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=5, id_b=6),
         Row(id_a=3, id_b=4), Row(id_a=8, id_b=9)]
    )
    out = {r.doc_id: r.cluster_id for r in dedup_ops.duplicate_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8}
def test_language_id(docs):
    pred = {r.doc_id: r.predicted_lang for r in text_ops.language_id(docs).collect()}
    assert pred[0] == "en"
    assert pred[4] == "de"


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text=""), Row(doc_id=1, text="   "), Row(doc_id=2, text=" one  two ")]
    )
    out = {r.doc_id: r.n for r in df.select("doc_id", text_ops.token_count(F.col("text")).alias("n")).collect()}
    assert out == {0: 0, 1: 0, 2: 2}


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    rows = []
    for label in range(4):
        center = rng.normal(0, 1, 16)
        for i in range(25):
            v = center + rng.normal(0, 0.1, 16)
            rows.append(
                Row(vec_id=label * 25 + i, embedding=[float(x) for x in v.astype(np.float32)], label=label)
            )
    return spark.createDataFrame(rows)


def test_brute_force_topk_is_exact(vectors):
    out = sim_ops.brute_force_topk(vectors, vectors.where(F.col("vec_id") == 0), k=3).collect()
    assert len(out) == 3
    assert all(r.query_id == 0 for r in out)
    # same-cluster neighbors (ids < 25) dominate for tight clusters
    assert all(r.neighbor_id < 25 for r in out)
    assert [r.rank for r in out] == [1, 2, 3]
    assert out[0].cos >= out[1].cos >= out[2].cos


def test_brute_force_topk_dim_unrolled_is_bit_identical(vectors):
    """The opt-in codegen-unrolled cosine (dim=) must reproduce the
    interpreted path exactly — same accumulation order, so same rounded
    cosines, ranks, and tie-breaks."""
    queries = vectors.where(F.col("vec_id") % 25 == 0)
    base = sorted(map(tuple, sim_ops.brute_force_topk(vectors, queries, k=5).collect()))
    unrolled = sorted(
        map(tuple, sim_ops.brute_force_topk(vectors, queries, k=5, dim=16).collect())
    )
    assert base == unrolled


def test_ivf_recall_vs_brute_force(vectors):
    queries = vectors.where(F.col("vec_id") % 25 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim_ops.brute_force_topk(vectors, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim_ops.ivf_topk(vectors, queries, k=5, nprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall}"


def test_lsh_topk_finds_cluster_neighbors(vectors):
    queries = vectors.where(F.col("vec_id") % 25 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim_ops.brute_force_topk(vectors, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim_ops.lsh_topk(vectors, queries, k=5, planes=4, dim=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall}"  # few planes, tight clusters


def test_kmeans_trained_ivf_recall(vectors):
    bucketed = sim_ops.numpy_kmeans_buckets(vectors, k=4, vec_col="embedding")[0]
    queries = bucketed.where(F.col("vec_id") % 25 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim_ops.brute_force_topk(vectors, vectors.where(F.col("vec_id") % 25 == 0), k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim_ops.ivf_topk(bucketed, queries, k=5, nprobe=2, bucket_col="ivf_bucket").collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"trained-IVF recall {recall}"


def test_bpe_token_count(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="it's well-known: 123 tokens!"), Row(doc_id=1, text="")])
    out = {r.doc_id: r.n for r in df.select("doc_id", text_ops.bpe_token_count(F.col("text")).alias("n")).collect()}
    assert out[1] == 0
    assert out[0] == 9  # it|'s|well|-|known|:|123|tokens|!


def test_cosine_threshold_pairs(vectors):
    pairs = sim_ops.cosine_threshold_pairs(
        vectors.where(F.col("vec_id") < 25), vectors, threshold=0.99
    ).collect()
    assert all(r.id_a < r.id_b for r in pairs)
    assert all(r.cos >= 0.99 for r in pairs)


def test_embedding_near_dup_pairs(vectors):
    """Scaled copies are exact near-dups (cos 1.0) and positive scaling
    preserves every sign-LSH bit, so blocking recall on them is 1."""
    dups = vectors.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    corpus = vectors.unionByName(dups)
    pairs = sim_ops.embedding_near_dup_pairs(corpus, threshold=0.999, dim=16).collect()
    expected = {(i, i + 1000) for i in range(0, 100, 20)}
    got = {(r.id_a, r.id_b) for r in pairs}
    assert expected <= got  # recall 1 on the planted dups
    assert all(r.cos >= 0.999 for r in pairs)  # exact-verify precision


def test_zero_norm_vectors_never_pair_or_rank(vectors):
    """Shared NaN policy: a zero-norm vector (0/0 cosine = NaN) must
    pair with nothing in every near-pair path and rank in no top-k —
    Spark's `cos >= t` / `ORDER BY cos DESC` would otherwise PASS NaN
    (NaN > any double), so the guards are explicit."""
    zero = vectors.sparkSession.createDataFrame(
        [Row(vec_id=9999, embedding=[0.0] * 16, label=0)]
    )
    corpus = vectors.unionByName(zero)
    near = sim_ops.embedding_near_dup_pairs(corpus, threshold=0.5, dim=16)
    assert near.where("id_a = 9999 OR id_b = 9999").count() == 0
    sem = sim_ops.semantic_near_pairs(corpus, threshold=0.5, n_clusters=2)
    assert sem.where("id_a = 9999 OR id_b = 9999").count() == 0
    thr = sim_ops.cosine_threshold_pairs(
        corpus.where(F.col("vec_id").isin(0, 9999)), corpus, threshold=0.5
    )
    assert thr.where("id_a = 9999 OR id_b = 9999").count() == 0
    # zero-norm QUERY returns no rows; zero-norm corpus row never ranks
    topk = sim_ops.brute_force_topk(corpus, zero, k=3)
    assert topk.count() == 0
    ranked = sim_ops.brute_force_topk(
        corpus, vectors.where(F.col("vec_id") == 0), k=200
    )
    assert ranked.where("neighbor_id = 9999").count() == 0


def test_null_vectors_never_pair_on_near_pair_paths(vectors):
    """A NULL embedding pairs with nothing on every near-pair path, and
    crashes none of them: the rows sit in a bucket of true near-dups,
    so every verify scores them (NaN), and the LSH signatures skip
    them (which also keeps them out of ``lsh_topk``)."""
    spark = vectors.sparkSession
    nulls = spark.createDataFrame(
        [Row(vec_id=8000 + i, embedding=None, label=0) for i in range(2)],
        schema=vectors.schema,
    )
    corpus = vectors.unionByName(nulls)

    def assign(df):
        return df.select("vec_id", F.col("label").cast("int").alias("ivf_bucket"))

    def pair_set(df):
        return sorted(map(tuple, df.collect()))

    for cap in (None, 7):
        got = sim_ops.semantic_near_pairs(
            corpus, threshold=0.9, assignments=assign(corpus), max_bucket_rows=cap
        )
        want = sim_ops.semantic_near_pairs(
            vectors, threshold=0.9, assignments=assign(vectors), max_bucket_rows=cap
        )
        assert pair_set(got) == pair_set(want) and pair_set(want)
    near = sim_ops.embedding_near_dup_pairs(corpus, threshold=0.9, dim=16)
    assert pair_set(near) == pair_set(
        sim_ops.embedding_near_dup_pairs(vectors, threshold=0.9, dim=16)
    )
    assert sim_ops.lsh_topk(corpus, nulls, k=3, dim=16).count() == 0
    ranked = sim_ops.lsh_topk(corpus, vectors.where(F.col("vec_id") == 0), k=200, dim=16)
    assert ranked.count() and ranked.where("neighbor_id >= 8000").count() == 0


def test_embedding_near_dup_pairs_match_brute_force(spark):
    """The LSH leg equals a numpy brute force over all pairs: the same
    (id_a, id_b) set and the same 6-digit rounded cos. Planted partners
    sit just around the threshold: raw 0.9899998 rounds up to 0.99 and
    is kept, raw 0.9899992 rounds to 0.989999 and is dropped; a NULL and
    a zero vector pair with nothing."""
    rng = np.random.default_rng(11)
    dim = 16
    base = rng.normal(size=(60, dim))

    def partner(v, c):
        u = rng.normal(size=dim)
        u -= (u @ v) / (v @ v) * v
        return c * v / np.linalg.norm(v) + np.sqrt(1 - c * c) * u / np.linalg.norm(u)

    targets = [0.9899998, 0.9899992, 0.995, 0.99000004]
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    rows += [(1000 + i, partner(base[i], c).tolist()) for i, c in enumerate(targets)]
    rows += [(2000, (2.0 * base[10]).tolist()), (3000, None), (3001, [0.0] * dim)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.cos
        for r in sim_ops.embedding_near_dup_pairs(df, threshold=0.99, dim=dim).collect()
    }
    ids = np.array([i for i, v in rows if v is not None])
    X = np.array([v for _, v in rows if v is not None])
    n = np.linalg.norm(X, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.round((X @ X.T) / (n[:, None] * n[None, :]), 6)
    want = {
        (int(ids[i]), int(ids[j])): cos[i, j]
        for i, j in zip(*np.nonzero(cos >= 0.99))
        if ids[i] < ids[j]
    }
    assert got == want
    assert got[(0, 1000)] == 0.99 and (1, 1001) not in got
    assert got[(2, 1002)] == 0.995 and got[(3, 1003)] == 0.99
    assert got[(10, 2000)] == 1.0


def test_string_ids_flow_through_lsh_and_semantic_paths(vectors):
    """_signature_keys / semantic_near_pairs derive the id type from
    the input schema — string ids must pass through unchanged."""
    named = vectors.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    dups = named.where(F.col("vec_id") == "doc-0").select(
        F.lit("doc-copy").alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = named.unionByName(dups)
    near = sim_ops.embedding_near_dup_pairs(corpus, threshold=0.999, dim=16)
    assert dict(near.dtypes)["id_a"] == "string"
    got = {(r.id_a, r.id_b) for r in near.collect()}
    assert ("doc-0", "doc-copy") in got
    sem = sim_ops.semantic_near_pairs(corpus, threshold=0.999, n_clusters=2)
    assert dict(sem.dtypes)["id_a"] == "string"
    assert ("doc-0", "doc-copy") in {(r.id_a, r.id_b) for r in sem.collect()}
    # the chunk-pair hot-bucket path must handle string ids too
    # (xxhash64 chunk assignment + numpy min/max pair orientation)
    chunked = sim_ops.semantic_near_pairs(
        corpus, threshold=0.999, n_clusters=2, max_bucket_rows=9
    )
    assert ("doc-0", "doc-copy") in {(r.id_a, r.id_b) for r in chunked.collect()}


def test_multimodal_plumbing(docs):
    media = mm_ops.attach_fake_media(docs)
    feats = mm_ops.extract_features(media, fake_codec=True).collect()
    assert len(feats) == docs.count()
    assert all(f.n_bytes == 16 for f in feats)  # md5 payload
    assert all(len(f.byte_histogram) == 16 for f in feats)
    frames = mm_ops.sample_frames(media, every_nth=2).collect()
    assert all(f.frame_idx % 2 == 0 for f in frames)
    # identical texts -> identical features (deterministic fake codec)
    by_id = {f.media_id: (f.mean_byte, f.std_byte) for f in feats}
    assert by_id[0] == by_id[1]


def test_asof_join_semantics(spark):
    from modelardb_rs_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [Row(k="a", t=10, x=1.0), Row(k="a", t=20, x=2.0), Row(k="a", t=5, x=0.0), Row(k="b", t=10, x=9.0)]
    ).select("k", F.col("t").alias("ts"), "x")
    right = spark.createDataFrame(
        [Row(k="a", t=10, y=100.0), Row(k="a", t=15, y=150.0), Row(k="c", t=1, y=-1.0)]
    ).select("k", F.col("t").alias("ts"), "y")
    out = {
        (r.k, r.ts): r.y_right
        for r in asof_join(left, right, on="ts", by=["k"], right_value_cols=["y"]).collect()
    }
    assert out == {
        ("a", 5): None,      # no right row at or before 5
        ("a", 10): 100.0,    # equal timestamp counts (<=)
        ("a", 20): 150.0,    # latest preceding
        ("b", 10): None,     # key without right rows
    }


def test_asof_join_numeric_tolerance(spark):
    """Numeric (µs long) `on` columns must use plain subtraction for the
    tolerance age — casting a long to timestamp reads it as seconds."""
    from modelardb_rs_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [Row(k="a", ts=1_000_000), Row(k="a", ts=10_000_000)]
    )
    right = spark.createDataFrame([Row(k="a", ts=500_000, y=1.0)])
    out = {
        r.ts: r.y_right
        for r in asof_join(
            left, right, on="ts", by=["k"], right_value_cols=["y"], tolerance_us=1_000_000
        ).collect()
    }
    assert out == {1_000_000: 1.0, 10_000_000: None}


def test_decode_media_stub_raises():
    with pytest.raises(NotImplementedError):
        mm_ops.decode_media(b"\x00\x01", "image", fake=False)


def test_codec_registry_plugs_into_operators(spark):
    """A codec registered at runtime (here: an 'image decoder' that
    doubles each byte — standing in for PIL) flows through
    extract_features without touching the operator; the default 'fake'
    path is unchanged."""
    assert "fake" in mm_ops.registered_codecs()

    def doubling_codec(payload, media_type):
        import numpy as np

        return (np.frombuffer(payload, dtype=np.uint8) // 2) * 2

    mm_ops.register_codec("double", doubling_codec)
    try:
        docs = spark.createDataFrame(
            [Row(doc_id=1, text="alpha"), Row(doc_id=2, text="beta")]
        )
        media = mm_ops.attach_fake_media(docs)
        via_custom = {
            r.media_id: r.mean_byte
            for r in mm_ops.extract_features(media, codec="double").collect()
        }
        via_fake = {
            r.media_id: r.mean_byte
            for r in mm_ops.extract_features(media, codec="fake").collect()
        }
        assert set(via_custom) == {1, 2}
        for mid in via_custom:
            assert via_custom[mid] <= via_fake[mid]  # rounded down
        with pytest.raises(NotImplementedError, match="no codec registered"):
            mm_ops.extract_features(media, codec="missing")
    finally:
        mm_ops._CODECS.pop("double", None)


def test_chunk_documents_edges(spark):
    from modelardb_rs_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, ""), (2, "x" * 10), (3, "y" * 256), (4, "z" * 257), (5, "w" * 960)],
        "doc_id long, text string",
    )
    ch = chunk_documents(df, chunk_chars=256, overlap_chars=32).collect()
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r.doc_id, []).append(r)
    # every doc emits >= 1 chunk; empty text -> one empty chunk
    assert {d: len(v) for d, v in by_doc.items()} == {1: 1, 2: 1, 3: 1, 4: 2, 5: 5}
    assert by_doc[1][0].chunk_text == "" and by_doc[1][0].chunk_len == 0
    # overlapped reconstruction: consecutive chunks share 32 chars
    c0, c1 = sorted(by_doc[4], key=lambda r: r.chunk_idx)
    assert c0.chunk_text[-32:] == c1.chunk_text[:32]
    assert c0.chunk_len == 256 and c1.chunk_len == 257 - 224
    # full coverage without gaps: stitched length == original
    parts = sorted(by_doc[5], key=lambda r: r.chunk_idx)
    stitched = parts[0].chunk_text + "".join(p.chunk_text[32:] for p in parts[1:])
    assert stitched == "w" * 960


def test_deterministic_sample_stable_and_disjointish(spark):
    from modelardb_rs_spark.operators.text import deterministic_sample

    df = spark.createDataFrame([(i, i) for i in range(5000)], "doc_id long, n long")
    a1 = {r.doc_id for r in deterministic_sample(df, 10.0, salt="a").collect()}
    a2 = {r.doc_id for r in deterministic_sample(df.repartition(7), 10.0, salt="a").collect()}
    assert a1 == a2  # stable across partitionings
    assert 300 < len(a1) < 700  # ~10%
    b = {r.doc_id for r in deterministic_sample(df, 10.0, salt="b").collect()}
    # independent salts: overlap is ~1% of corpus, nowhere near |a|
    assert len(a1 & b) < len(a1) / 2
    assert len(deterministic_sample(df, 0.0).collect()) == 0
    assert len(deterministic_sample(df, 100.0).collect()) == 5000


def test_repetition_features(spark):
    rows = [
        Row(doc_id=1, text="a b a b a b"),          # dominated by "a b"
        Row(doc_id=2, text="w x y z"),               # all distinct
        Row(doc_id=3, text="solo"),                  # 1 token: no bigram
        Row(doc_id=4, text="   "),                   # empty after trim
        Row(doc_id=5, text="a a a a"),               # overlap: frac clamps to 1
    ]
    out = {
        r.doc_id: r
        for r in text_ops.repetition_features(spark.createDataFrame(rows)).collect()
    }
    r1 = out[1]
    assert r1.n_tokens == 6
    assert r1.dup_token_frac == pytest.approx(1 - 2 / 6, abs=1e-6)
    assert r1.top_bigram == "a b" and r1.top_bigram_n == 3
    assert r1.top_bigram_frac == pytest.approx(1.0, abs=1e-6)
    r2 = out[2]
    assert r2.dup_token_frac == 0.0 and r2.top_bigram_n == 1
    # tie on count=1 -> lexicographically smallest bigram wins
    assert r2.top_bigram == "w x"
    assert out[3].top_bigram is None and out[3].top_bigram_n == 0
    assert out[4].n_tokens == 0 and out[4].top_bigram_frac == 0.0
    # overlapping occurrences would give 2*3/4 = 1.5; the fraction clamps
    assert out[5].top_bigram_n == 3 and out[5].top_bigram_frac == 1.0


def test_tfidf_top_terms(spark):
    rows = [
        Row(doc_id=1, text="apple apple banana"),
        Row(doc_id=2, text="banana cherry"),
        Row(doc_id=3, text="cherry cherry cherry durian"),
    ]
    out = text_ops.tfidf_top_terms(spark.createDataFrame(rows), k=2).collect()
    import math

    def score(tf, df, n=3):
        return round(tf * (math.log((n + 1) / (df + 1)) + 1), 6)

    got = {(r.doc_id, r.rank): (r.term, r.tf, r.df, r.score) for r in out}
    # doc 1: apple tf=2 df=1 dominates banana tf=1 df=2
    assert got[(1, 1)] == ("apple", 2, 1, score(2, 1))
    assert got[(1, 2)] == ("banana", 1, 2, score(1, 2))
    # doc 2: equal scores -> lexicographic tie-break
    s_b, s_c = score(1, 2), score(1, 2)
    assert got[(2, 1)][0] == "banana" and got[(2, 2)][0] == "cherry"
    assert got[(2, 1)][3] == s_b and got[(2, 2)][3] == s_c
    # doc 3: cherry tf=3 first, durian unique second
    assert got[(3, 1)][0] == "cherry" and got[(3, 2)] == ("durian", 1, 1, score(1, 1))


def test_profile_table(spark):
    from modelardb_rs_spark.operators.profile import profile_table

    rows = [
        Row(a=1, b="x", c=None),
        Row(a=2, b="y", c=3.5),
        Row(a=2, b=None, c=None),
    ]
    out = {r.column: r for r in profile_table(spark.createDataFrame(rows)).collect()}
    assert out["a"].n_rows == 3 and out["a"].n_nulls == 0 and out["a"].n_distinct == 2
    assert out["a"].min_str == "1" and out["a"].max_str == "2"
    assert out["b"].n_nulls == 1 and out["b"].n_distinct == 2
    assert out["c"].n_nulls == 2 and out["c"].null_frac == pytest.approx(2 / 3, abs=1e-6)
    assert out["c"].min_str == "3.5" and out["c"].max_str == "3.5"


def test_ngram_contamination(spark):
    train = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps over the lazy dog")]
    )
    ev = spark.createDataFrame(
        [
            # shares the 4-gram "quick brown fox jumps"
            Row(doc_id=10, text="a quick brown fox jumps here"),
            Row(doc_id=11, text="entirely different words only"),
            Row(doc_id=12, text="the quick brown fox jumps over the lazy dog"),
        ]
    )
    out = {
        r.doc_id: (r.n_ngrams, r.n_contaminated, r.contamination_frac)
        for r in dedup_ops.ngram_contamination(train, ev, n=4).collect()
    }
    assert out[12][0] == out[12][1] and out[12][2] == 1.0  # verbatim copy
    assert out[11] == (1, 0, 0.0)  # <4 tokens? no — 4 tokens -> 1 gram, no hit
    assert out[10][1] == 1 and out[10][0] == 3  # one shared 4-gram of three
    assert out[10][2] == pytest.approx(1 / 3, abs=1e-6)


def test_deduplicate_corpus_keeps_canonical(docs):
    """End-to-end dedup: near-duplicate clusters collapse to their
    minimum id; unique docs survive untouched."""
    out = dedup_ops.deduplicate_corpus(docs, threshold=0.5, k=16, bands=8)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept <= all_ids and len(kept) < len(all_ids)
    # survivors contain each cluster's min id: re-running dedup on the
    # survivors finds no pairs at the same threshold
    again = dedup_ops.minhash_dedup_pairs(out, threshold=0.5, k=16, bands=8)
    assert again.count() == 0


def test_resize_media_nearest_neighbor(spark):
    """Resize through the codec registry: a 16-byte fake payload viewed
    as a (height, width) raster resized to 2x2 picks the exact
    nearest-neighbor samples; a custom codec plugs in unchanged."""
    import numpy as np

    docs = spark.createDataFrame([Row(doc_id=1, text="hello")])
    media = mm_ops.attach_fake_media(docs)
    row = media.collect()[0]
    samples = np.frombuffer(bytes(row["payload"]), dtype=np.uint8)
    w, h = row["width"], row["height"]
    out = mm_ops.resize_media(media, out_w=2, out_h=2).collect()[0]
    exp = [
        int(samples[(((r * h) // 2) * w + ((c * w) // 2)) % 16])
        for r in range(2)
        for c in range(2)
    ]
    assert out["pixels"] == exp and out["out_h"] == out["out_w"] == 2
    with pytest.raises(NotImplementedError, match="no codec registered"):
        mm_ops.resize_media(media, codec="missing")


# ---------------------------------------------------- real image codec


def _encode_bmp24(img: "np.ndarray") -> bytes:
    """Minimal 24-bit uncompressed BMP encoder (test fixture): gray
    value replicated into BGR, rows 4-byte padded, bottom-up."""
    import struct

    h, w = img.shape
    row_bytes = (w * 3 + 3) & ~3
    raster = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for c in range(w):
            v = int(img[r, c])
            row += bytes((v, v, v))  # B G R
        row += b"\x00" * (row_bytes - len(row))
        raster += row
    pixel_off = 14 + 40
    size = pixel_off + len(raster)
    header = b"BM" + struct.pack("<IHHI", size, 0, 0, pixel_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return bytes(header + dib + raster)


def _encode_pgm_p5(img: "np.ndarray") -> bytes:
    h, w = img.shape
    return f"P5\n# test fixture\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()


def test_builtin_bmp_pgm_decoders_roundtrip():
    """The dependency-free decoders must reproduce the exact raster —
    including BMP row padding (width not divisible by 4) and bottom-up
    row order, and PGM comments."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 7), dtype=np.uint8)  # w=7: padded rows
    assert np.array_equal(mm_ops.decode_bmp(_encode_bmp24(img)), img.ravel())
    assert np.array_equal(mm_ops.decode_pgm(_encode_pgm_p5(img)), img.ravel())
    # P2 ASCII variant
    p2 = ("P2\n7 5\n255\n" + " ".join(str(int(v)) for v in img.ravel())).encode()
    assert np.array_equal(mm_ops.decode_pgm(p2), img.ravel())
    # 24-bit color collapses via integer BT.601
    import struct

    color = _encode_bmp24(np.zeros((1, 1), dtype=np.uint8))
    # rewrite the single pixel to BGR=(10, 200, 30)
    color = color[:54] + bytes((10, 200, 30)) + color[57:]
    expect = (299 * 30 + 587 * 200 + 114 * 10) // 1000
    assert mm_ops.decode_bmp(color).tolist() == [expect]


def test_real_image_codec_through_spark_operators(spark):
    """The 'image' codec path — a REAL decoder, not the fake — must run
    end-to-end through extract_features and resize_media, matching
    numpy-computed oracles pixel-for-pixel."""
    rng = np.random.default_rng(11)
    imgs = {1: rng.integers(0, 256, (6, 9), dtype=np.uint8),
            2: rng.integers(0, 256, (4, 4), dtype=np.uint8)}
    rows = [
        (1, "image", bytearray(_encode_bmp24(imgs[1])), 9, 6, 1),
        (2, "image", bytearray(_encode_pgm_p5(imgs[2])), 4, 4, 1),
    ]
    media = spark.createDataFrame(rows, mm_ops.MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in mm_ops.extract_features(media, codec="image").collect()}
    for mid, img in imgs.items():
        flat = img.ravel()
        assert feats[mid]["n_bytes"] == flat.size
        assert feats[mid]["mean_byte"] == pytest.approx(float(flat.mean()))
        assert feats[mid]["std_byte"] == pytest.approx(float(flat.std()))
        assert feats[mid]["byte_histogram"] == np.bincount(flat >> 4, minlength=16).tolist()
    # nearest-neighbor resize against a pure-numpy oracle
    out = {r["media_id"]: r for r in mm_ops.resize_media(media, out_w=3, out_h=2, codec="image").collect()}
    for mid, img in imgs.items():
        h, w = img.shape
        rr, cc = np.meshgrid(np.arange(2), np.arange(3), indexing="ij")
        expect = img[(rr * h) // 2, (cc * w) // 3].ravel().tolist()
        assert out[mid]["pixels"] == expect


def test_image_codec_rejects_unknown_container():
    with pytest.raises(NotImplementedError, match="BMP and PGM"):
        mm_ops.decode_media(b"\x89PNG\r\n\x1a\n....", "image", codec="image")


# ------------------------------------------------------ product quantization


def test_pq_encode_deterministic_and_bounded(spark):
    from modelardb_rs_spark.operators import pq as pq_ops

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = pq_ops.train_pq_codebooks(df, m=4, ks=8, sample=200)
    assert len(books) == 4 and books[0].shape == (8, 4)
    enc1 = {r["vec_id"]: r["pq_codes"] for r in pq_ops.encode_pq(df, books).collect()}
    enc2 = {r["vec_id"]: r["pq_codes"] for r in pq_ops.encode_pq(df, books).collect()}
    assert enc1 == enc2  # deterministic codes
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in enc1.values())
    norms = {r["vec_id"]: r["pq_norm"] for r in pq_ops.encode_pq(df, books).collect()}
    assert all(n > 0 for n in norms.values())


def test_pq_topk_recall_with_rerank(spark):
    """ADC + exact re-rank must recover most true neighbors; plain ADC
    must at least return valid ranked rows (k per query, no self)."""
    from modelardb_rs_spark.operators import pq as pq_ops
    from modelardb_rs_spark.operators import similarity as sim_ops

    rng = np.random.default_rng(5)
    # clustered data: PQ's intended regime
    centers = rng.normal(size=(10, 32)) * 4
    rows = []
    for i in range(400):
        c = centers[i % 10]
        rows.append((i, [float(x) for x in c + rng.normal(size=32) * 0.3]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = pq_ops.train_pq_codebooks(df, m=8, ks=16, sample=400)
    enc = pq_ops.encode_pq(df, books)
    q = df.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in sim_ops.brute_force_topk(df, q, k=5).collect()}
    plain = pq_ops.pq_topk(enc, books, q, k=5).collect()
    assert len(plain) == 25
    assert all(r["query_id"] != r["neighbor_id"] for r in plain)
    rer = {(r["query_id"], r["neighbor_id"])
           for r in pq_ops.pq_topk(enc, books, q, k=5, rerank=40).collect()}
    recall = len(exact & rer) / len(exact)
    assert recall >= 0.8, recall
    # the driver-side query collect is bounded: an over-limit query
    # TABLE raises instead of building |Q| LUTs on the driver
    with pytest.raises(ValueError, match="query set exceeds"):
        pq_ops.pq_topk(enc, books, df, k=5, max_queries=100)
    assert len(pq_ops.pq_topk(enc, books, q, k=5, max_queries=5).collect()) == 25


def test_pq_topk_scores_match_the_column_algebra(spark):
    """The numpy probe kernel scores as the Column algebra it replaced:
    ADC is a left-to-right ``element_at`` sum over the query's LUT over
    ``qn * greatest(pq_norm, 1e-12)``, exact cosine is
    ``similarity.dot`` over the two ``norm``s, both ``try_divide``'d
    and rounded to 6 digits — on vectors whose element scales spread
    over four decades."""
    from modelardb_rs_spark.operators import pq as pq_ops

    rng = np.random.default_rng(13)
    rows = [
        (i, [float(x) for x in rng.normal(size=16) * 10 ** rng.uniform(-2, 2, size=16)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = pq_ops.train_pq_codebooks(df, m=4, ks=8, sample=120)
    enc = pq_ops.encode_pq(df, books)
    q = df.where(F.col("vec_id") == 0)
    qv = np.asarray(rows[0][1], dtype=np.float32).astype(np.float64)
    lut = F.array(*[F.lit(x) for x in pq_ops.query_lut(books, qv)])
    ip = F.lit(0.0)
    for s in range(4):
        ip = ip + F.element_at(lut, F.lit(s * 8) + F.element_at("pq_codes", s + 1) + 1)
    qn = float(np.sqrt((qv**2).sum()))
    adc_ref = enc.where(F.col("vec_id") != 0).select(
        "vec_id", F.round(F.try_divide(ip, F.lit(qn) * F.greatest("pq_norm", F.lit(1e-12))), 6)
    )
    got = pq_ops.pq_topk(enc, books, q, k=200).select("neighbor_id", "cos")
    assert set(map(tuple, got.collect())) == set(map(tuple, adc_ref.collect()))

    qcol = F.array(*[F.lit(float(x)) for x in qv])
    exact_ref = df.where(F.col("vec_id") != 0).select(
        "vec_id",
        F.round(
            F.try_divide(sim_ops.dot(qcol, F.col("embedding")),
                         sim_ops.norm(qcol) * sim_ops.norm(F.col("embedding"))),
            6,
        ),
    )
    got = pq_ops.pq_topk(enc, books, q, k=200, rerank=200).select("neighbor_id", "cos")
    assert set(map(tuple, got.collect())) == set(map(tuple, exact_ref.collect()))


def test_pq_topk_rerank_scans_encoded_once(spark):
    """The ADC shortlist and its exact re-rank come from ONE scan of
    ``encoded``: a per-row accumulator upstream of encode_pq's batch
    UDF ticks once per corpus row (a second scan for the raw vectors
    would re-run the encode and tick twice)."""
    from pyspark.sql.types import ArrayType, FloatType

    from modelardb_rs_spark.operators import pq as pq_ops

    rng = np.random.default_rng(9)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = pq_ops.train_pq_codebooks(df, m=4, ks=8, sample=200)
    acc = spark.sparkContext.accumulator(0)

    @F.udf(ArrayType(FloatType()))
    def tick(v):
        acc.add(1)
        return v

    enc = pq_ops.encode_pq(df.withColumn("embedding", tick("embedding")), books)
    q = df.where(F.col("vec_id") < 3)
    out = pq_ops.pq_topk(enc, books, q, k=5, rerank=20).collect()
    assert len(out) == 15
    assert acc.value == 200


@pytest.mark.parametrize("rerank", [None, 10])
def test_pq_topk_keeps_rounded_ties_at_the_shortlist_boundary(spark, rerank):
    """ADC cosines that differ only below the 6th digit tie after
    rounding, and ties rank by id. Every task's raw ADC order here
    favours the HIGHEST ids, so a per-task pre-selection without the
    rounding margin would lose the lowest ids the rank must return."""
    from modelardb_rs_spark.operators import pq as pq_ops

    books = [np.eye(2)]
    # pq_norm falls with the id, so the raw ADC 1/pq_norm rises with
    # it: every value rounds to 1.0, the raw order is reversed
    rows = [(i, [1.0, 0.0], [0], 1.0 + (300 - i) * 1e-10) for i in range(300)]
    enc = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, pq_codes array<int>, pq_norm double"
    ).repartition(3)
    assert enc.rdd.getNumPartitions() >= 3
    q = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    out = pq_ops.pq_topk(enc, books, q, k=5, rerank=rerank).collect()
    assert [(r["neighbor_id"], r["cos"]) for r in sorted(out, key=lambda r: r["rank"])] == [
        (i, 1.0) for i in range(1, 6)
    ]


def test_mmr_rerank_matches_naive_greedy(spark):
    """mmr_rerank must equal a literal python replay of the greedy MMR
    rule (score = lam*rel - (1-lam)*max_sim_to_selected, empty-set term
    0, ties to the smallest id) on every query."""
    from modelardb_rs_spark.operators import similarity as sim_ops

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 4)
    cands = sim_ops.brute_force_topk(df, q, k=10)
    got = {}
    for r in sim_ops.mmr_rerank(cands, df, k=4, lam=0.7).collect():
        got.setdefault(r["query_id"], []).append((r["mmr_rank"], r["neighbor_id"]))
    vec = {i: np.asarray(v, dtype=np.float64) for i, v in rows}
    pool = {}
    for r in cands.collect():
        pool.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cos"]))
    for qid, cand in pool.items():
        # true max over the selected set (NO 0 floor — the term is 0
        # only while S is empty, i.e. for the first pick)
        sel, max_sim = [], {nid: None for nid, _ in cand}
        for _ in range(4):
            best = None
            for nid, rel in cand:
                if nid in sel:
                    continue
                s = 0.7 * rel - 0.3 * (max_sim[nid] if max_sim[nid] is not None else 0.0)
                if best is None or s > best[0] or (s == best[0] and nid < best[1]):
                    best = (s, nid)
            sel.append(best[1])
            bv = vec[best[1]]
            for nid, _ in cand:
                raw = (vec[nid] @ bv) / (
                    np.linalg.norm(vec[nid]) * np.linalg.norm(bv)
                )
                # half-away rounding, the operator's (and oracle's) rule
                sim = float(np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6)
                if max_sim[nid] is None or sim > max_sim[nid]:
                    max_sim[nid] = sim
        assert [n for _, n in sorted(got[qid])] == sel, qid


def test_mmr_rerank_diversifies_planted_near_dups(spark):
    """Three near-copies of the best candidate crowd a plain top-3;
    MMR at lam=0.5 admits one representative and fills the rest with
    distinct vectors. lam=1 must reduce to plain relevance order."""
    from modelardb_rs_spark.operators import similarity as sim_ops

    rng = np.random.default_rng(2)
    base = rng.normal(size=16)
    rows = [(0, [float(x) for x in base])]  # the query
    for i in (1, 2, 3):  # near-copies of the query
        rows.append((i, [float(x) for x in base + rng.normal(size=16) * 0.01]))
    for i in range(4, 40):  # distinct fillers
        rows.append((i, [float(x) for x in rng.normal(size=16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") == 0)
    cands = sim_ops.brute_force_topk(df, q, k=10)
    plain = [r["neighbor_id"] for r in cands.orderBy("rank").limit(3).collect()]
    assert set(plain) == {1, 2, 3}  # the copies crowd plain top-3
    mmr = sorted(
        (r["mmr_rank"], r["neighbor_id"])
        for r in sim_ops.mmr_rerank(cands, df, k=3, lam=0.5).collect()
    )
    picked = [n for _, n in mmr]
    assert len(set(picked) & {1, 2, 3}) == 1  # one representative
    assert picked[0] in {1, 2, 3}  # first pick is still the most relevant
    topk = [n for _, n in sorted(
        (r["mmr_rank"], r["neighbor_id"])
        for r in sim_ops.mmr_rerank(cands, df, k=3, lam=1.0).collect()
    )]
    assert topk == plain  # lam=1 degenerates to relevance order


def test_opq_rotation_orthonormal_and_deterministic(spark):
    from modelardb_rs_spark.operators import pq as pq_ops

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    R, books = pq_ops.train_opq(df, m=4, ks=8, sample=300, opq_iters=4)
    assert R.shape == (16, 16)
    assert np.abs(R @ R.T - np.eye(16)).max() < 1e-9  # orthonormal
    R2, books2 = pq_ops.train_opq(df, m=4, ks=8, sample=300, opq_iters=4)
    assert np.array_equal(R, R2)  # deterministic training
    assert all(np.array_equal(a, b) for a, b in zip(books, books2))
    enc = {r["vec_id"]: r["pq_codes"]
           for r in pq_ops.encode_pq(df, books, rotate=R).collect()}
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in enc.values())


def test_opq_reduces_quantization_error_on_anisotropic_data(spark):
    """The OPQ claim itself: on data whose variance is anisotropic and
    correlated ACROSS subspace boundaries (the shape of learned
    embeddings), the learned rotation must cut the mean squared
    reconstruction error vs plain PQ at the same (m, ks) code budget.
    Orthonormal R preserves norms, so errors in rotated space compare
    directly to errors in the original space."""
    from modelardb_rs_spark.operators import pq as pq_ops

    rng = np.random.default_rng(0)
    G = rng.normal(size=(1500, 32))
    A = rng.normal(size=(32, 32)) * np.linspace(3, 0.1, 32)[None, :]
    X = G @ A
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    bpq = pq_ops.train_pq_codebooks(df, m=8, ks=16, sample=1500)
    R, bopq = pq_ops.train_opq(df, m=8, ks=16, sample=1500)

    def mse(books, rot):
        Y = X @ rot if rot is not None else X
        rec = pq_ops._decode_np(pq_ops._encode_np(Y, books), books)
        return float(((Y - rec) ** 2).sum(1).mean())

    e_pq, e_opq = mse(bpq, None), mse(bopq, R)
    assert e_opq < 0.8 * e_pq, (e_pq, e_opq)


def test_large_opq_rotation_ships_bounded_and_value_identical(spark):
    """Above the 8 MB cap the rotation must leave the task closure for a
    Spark broadcast — float32 when the ARRAY<FLOAT> round-trip is
    lossless — and the codes must be bit-identical to the closure path
    (VERDICT r12 item 3: the library handles the D^2 ship cost, the
    caller no longer downcasts by hand)."""
    from modelardb_rs_spark.operators import pq as pq_ops

    rng = np.random.default_rng(7)
    d, m, ks = 1152, 4, 8  # d^2 float64 = 10.1 MB > the 8 MB cap
    # storage-contract rotation: float32-representable values
    R = (
        np.linalg.qr(rng.normal(size=(d, d)))[0]
        .astype(np.float32)
        .astype(np.float64)
    )
    local, bc = pq_ops._ship_rotation(spark, R)
    assert local is None and bc is not None
    assert bc.value.dtype == np.float32  # lossless downcast: half the bytes
    assert bc.value.nbytes == R.nbytes // 2
    assert np.array_equal(pq_ops._rotation_value(local, bc), R)
    # a rotation that does NOT survive float32 must broadcast at float64
    R_hi = R.copy()
    R_hi[0, 0] += 1e-12
    _, bc_hi = pq_ops._ship_rotation(spark, R_hi)
    assert bc_hi.value.dtype == np.float64
    # below the cap: stays local, no broadcast
    small = np.eye(16)
    loc_s, bc_s = pq_ops._ship_rotation(spark, small)
    assert bc_s is None and loc_s is small
    # end-to-end value identity: broadcast path == forced-closure path
    books = [
        rng.normal(size=(ks, d // m)).astype(np.float32).astype(np.float64)
        for _ in range(m)
    ]
    rows = [(i, [float(x) for x in rng.normal(size=d)]) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    enc_bc = {
        r["vec_id"]: (r["pq_codes"], r["pq_norm"])
        for r in pq_ops.encode_pq(df, books, rotate=R).collect()
    }
    cap = pq_ops._ROTATION_SHIP_CAP
    try:
        pq_ops._ROTATION_SHIP_CAP = 1 << 62  # force the closure path
        enc_cl = {
            r["vec_id"]: (r["pq_codes"], r["pq_norm"])
            for r in pq_ops.encode_pq(df, books, rotate=R).collect()
        }
    finally:
        pq_ops._ROTATION_SHIP_CAP = cap
    assert enc_bc == enc_cl


def test_opq_topk_recall_with_rerank(spark):
    """OPQ ADC + exact re-rank recovers true neighbors; plain OPQ ADC
    returns valid ranked rows. Mirrors test_pq_topk_recall_with_rerank
    on the same clustered corpus so the two paths stay comparable."""
    from modelardb_rs_spark.operators import pq as pq_ops
    from modelardb_rs_spark.operators import similarity as sim_ops

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(10, 32)) * 4
    rows = []
    for i in range(400):
        c = centers[i % 10]
        rows.append((i, [float(x) for x in c + rng.normal(size=32) * 0.3]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    R, books = pq_ops.train_opq(df, m=8, ks=16, sample=400)
    enc = pq_ops.encode_pq(df, books, rotate=R)
    q = df.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in sim_ops.brute_force_topk(df, q, k=5).collect()}
    plain = pq_ops.pq_topk(enc, books, q, k=5, rotate=R).collect()
    assert len(plain) == 25
    assert all(r["query_id"] != r["neighbor_id"] for r in plain)
    rer = {(r["query_id"], r["neighbor_id"])
           for r in pq_ops.pq_topk(enc, books, q, k=5, rerank=40, rotate=R).collect()}
    recall = len(exact & rer) / len(exact)
    assert recall >= 0.8, recall


def test_null_embeddings_never_pair_or_rank(vectors):
    """A NULL embedding must behave like a zero-norm one — dropped by
    every scorer, not a numpy stack crash (the batched cosine handles
    NULL and length-mismatched vectors by yielding NaN)."""
    spark = vectors.sparkSession
    bad = spark.createDataFrame(
        [Row(vec_id=7777, embedding=None, label=0),
         Row(vec_id=7778, embedding=[1.0, 2.0], label=0)],  # wrong dim
        schema=vectors.schema,
    )
    corpus = vectors.unionByName(bad)
    topk = sim_ops.brute_force_topk(
        corpus, vectors.where(F.col("vec_id") == 0), k=200
    )
    assert topk.where("neighbor_id IN (7777, 7778)").count() == 0
    thr = sim_ops.cosine_threshold_pairs(
        corpus.where(F.col("vec_id").isin(0, 7777, 7778)), corpus, threshold=0.5
    )
    assert thr.where("id_a IN (7777, 7778) OR id_b IN (7777, 7778)").count() == 0
    # NULL queries return no rows rather than crashing
    assert sim_ops.brute_force_topk(corpus, bad, k=3).count() == 0
def test_chunk_pair_fn_duplicate_ids_never_self_pair():
    """The cross-chunk block must mirror the diagonal's STRICT id
    compare: a duplicated id straddling two chunks (possible under any
    partitioner that does not hash on the id) must not emit an (x, x)
    self-pair — the single-task path's ``ids[jj] > ids[ii]`` drops it."""
    import pandas as pd

    fn = sim_ops._near_pairs_fn(0.9, "embedding", chunked=True)
    v = [1.0, 0.0]
    pdf = pd.DataFrame(
        {
            "__id__": [5, 5, 9],  # id 5 duplicated ACROSS chunks 0 and 1
            "embedding": [v, v, v],
            "__c__": [0, 1, 1],
        }
    )
    out = fn((0, 0, 1), pdf)
    got = set(zip(out["id_a"], out["id_b"]))
    # cosine(v, v) = 1 >= 0.9 for every cross pair; the equal-id pair
    # must be masked, the distinct-id pairs kept (both 5s meet 9)
    assert got == {(5, 9)}
    # diagonal task on the same chunk: duplicate ids co-located
    out_diag = fn((0, 1, 1), pdf[pdf["__c__"] == 1])
    assert set(zip(out_diag["id_a"], out_diag["id_b"])) == {(5, 9)}


def test_semantic_near_pairs_auto_chunk_sizing(vectors):
    """max_bucket_rows='auto' derives the chunk cap from the bucket
    histogram (median-anchored, floor-bounded) and must reproduce the
    single-task output exactly; other strings are rejected."""
    single = {
        (r.id_a, r.id_b)
        for r in sim_ops.semantic_near_pairs(
            vectors, threshold=0.9, n_clusters=2
        ).collect()
    }
    # default floor (4096) >> the 100-vector fixture: every bucket
    # stays one-chunk — the auto path must still wire up correctly
    auto_floor = {
        (r.id_a, r.id_b)
        for r in sim_ops.semantic_near_pairs(
            vectors, threshold=0.9, n_clusters=2, max_bucket_rows="auto"
        ).collect()
    }
    assert auto_floor == single
    # tiny floor + mult forces genuine chunking through the auto rule
    auto_chunked = {
        (r.id_a, r.id_b)
        for r in sim_ops.semantic_near_pairs(
            vectors,
            threshold=0.9,
            n_clusters=2,
            max_bucket_rows="auto",
            auto_chunk_floor=8,
            auto_chunk_median_mult=0,
        ).collect()
    }
    assert auto_chunked == single
    # degenerate auto inputs (floor=0, mult=0) must clamp the derived
    # cap to 1 (one-row chunks) instead of ZeroDivisionError in the
    # ceil division — the positivity check the int path already has
    degenerate = {
        (r.id_a, r.id_b)
        for r in sim_ops.semantic_near_pairs(
            vectors,
            threshold=0.9,
            n_clusters=2,
            max_bucket_rows="auto",
            auto_chunk_floor=0,
            auto_chunk_median_mult=0,
        ).collect()
    }
    assert degenerate == single
    with pytest.raises(ValueError, match="auto"):
        sim_ops.semantic_near_pairs(
            vectors, threshold=0.9, n_clusters=2, max_bucket_rows="huge"
        )
