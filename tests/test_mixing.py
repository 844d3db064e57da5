"""Domain mixing, shard shuffling, int8 quantization, semantic dedup."""

import os

import pytest
from pyspark.sql import functions as F

from modelardb_rs_spark.operators.mixing import (
    domain_mix,
    normalized_weights,
    shuffle_shards,
    weighted_sample,
)
from modelardb_rs_spark.operators.quantize import (
    int8_reconstruction_stats,
    int8_scales,
    quantize_int8,
)
from modelardb_rs_spark.operators.similarity import semantic_dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"src{i % 4}", f"doc {i}") for i in range(400)]
    return spark.createDataFrame(rows, "doc_id long, source string, text string").persist()


@pytest.fixture(scope="module")
def vecs(spark):
    # seeded gaussian directions: max natural pairwise cosine is 0.775
    # (verified), so the only cos>=0.999 pairs are ones a test plants
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").persist()


class TestDomainMix:
    def test_whole_epochs_and_fraction(self, docs):
        # 4 strata x 100 docs; weights give factors 2.0, 1.0, 0.6, 0 (dropped)
        out = domain_mix(
            docs, {"src0": 0.5, "src1": 0.25, "src2": 0.15}, "source", salt="t"
        ).persist()
        by = {
            r["source"]: (r["n"], r["eps"])
            for r in out.groupBy("source")
            .agg(F.count("*").alias("n"), F.countDistinct("epoch").alias("eps"))
            .collect()
        }
        # factor 2.222...: every doc twice, ~22% a third time
        n0, eps0 = by["src0"]
        assert eps0 == 3 and 200 < n0 < 260
        # factor 1.11..: every doc once, ~11% twice
        n1, eps1 = by["src1"]
        assert eps1 == 2 and 100 < n1 < 140
        # factor 0.66..: a ~2/3 subsample, epoch 0 only
        n2, eps2 = by["src2"]
        assert eps2 == 1 and 40 < n2 < 90
        assert "src3" not in by  # weight 0 -> dropped
        out.unpersist()

    def test_deterministic_and_salt_independent(self, docs):
        w = {"src0": 0.7, "src1": 0.3}
        a = set(map(tuple, domain_mix(docs, w, "source", salt="a")
                    .select("doc_id", "epoch").collect()))
        b = set(map(tuple, domain_mix(docs, w, "source", salt="a")
                    .select("doc_id", "epoch").collect()))
        c = set(map(tuple, domain_mix(docs, w, "source", salt="b")
                    .select("doc_id", "epoch").collect()))
        assert a == b
        assert a != c  # different salt resamples the fractional epochs

    def test_target_total_scales_output(self, docs):
        out = domain_mix(docs, {"src0": 1.0}, "source", target_total=50, salt="t")
        assert 35 < out.count() < 65  # factor 0.5 over 100 docs

    def test_validation(self, docs):
        with pytest.raises(ValueError):
            domain_mix(docs, {}, "source")
        with pytest.raises(ValueError):
            domain_mix(docs, {"src0": -1.0}, "source")

    def test_target_total_skips_corpus_count(self, docs):
        # with an explicit target the plan must not aggregate the corpus
        # for its size — the literal replaces the count entirely
        plan = domain_mix(
            docs, {"src0": 1.0}, "source", target_total=50, salt="t"
        )._jdf.queryExecution().optimizedPlan().toString()
        assert plan.lower().count("aggregate") == 1  # the per-stratum counts only

    def test_boundary_weights_bit_identical_to_duckdb(self, spark):
        # Weights {0.6, 0.3, 0.1} sum to 0.9999999999999999 in doubles —
        # the exact case where normalizing in one engine but not the
        # other flips keep-decisions at the hash < frac*1e6 boundary.
        # Both sides here inject the SAME normalized double literals
        # (mixing.normalized_weights is the single normalization site),
        # so the kept (doc_id, source, epoch) sets must match EXACTLY
        # at sf0.1, not just statistically.
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        path = os.path.join(sf_dir, "documents.parquet")
        if not os.path.exists(path):
            pytest.skip("driver testdata not present")
        import duckdb

        w = {"src0": 0.6, "src1": 0.3, "src2": 0.1}
        assert sum(w.values()) == 0.9999999999999999  # the boundary case
        docs = spark.read.parquet(path)
        got = {
            (r["doc_id"], r["source"], r["epoch"])
            for r in domain_mix(docs, w, "source", salt="mix5")
            .select("doc_id", "source", "epoch")
            .collect()
        }
        vals = ", ".join(
            f"('{k}', CAST({v!r} AS DOUBLE))"
            for k, v in normalized_weights(w).items()
        )
        sql = f"""
            WITH cnt AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
            tot AS (SELECT count(*) AS n FROM documents),
            w(source, wt) AS (VALUES {vals}),
            f AS (
              SELECT cnt.source,
                     w.wt * CAST(tot.n AS DOUBLE) / CAST(cnt.c AS DOUBLE) AS factor
              FROM cnt JOIN w USING (source), tot
            ),
            reps AS (
              SELECT d.doc_id, d.source, f.factor, u.epoch
              FROM documents d JOIN f USING (source),
                   LATERAL (SELECT unnest(generate_series(
                       0, CAST(greatest(ceil(f.factor) - 1, 0) AS BIGINT))) AS epoch) u
            )
            SELECT doc_id, source, CAST(epoch AS INT) AS epoch FROM reps
            WHERE epoch < floor(factor)
               OR CAST(concat('0x', substr(md5(concat_ws(':',
                    CAST(doc_id AS VARCHAR), CAST(epoch AS VARCHAR), 'mix5')), 1, 8)) AS BIGINT)
                  % 1000000 < (factor - floor(factor)) * 1000000
        """
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
        )
        want = set(map(tuple, con.execute(sql).fetchall()))
        assert got == want


class TestShuffleShards:
    def test_positions_contiguous_per_shard(self, docs):
        out = shuffle_shards(docs, 4, salt="s").persist()
        assert out.count() == 400
        stats = out.groupBy("shard").agg(
            F.min("pos").alias("lo"), F.max("pos").alias("hi"), F.count("*").alias("n")
        ).collect()
        assert {r["shard"] for r in stats} == {0, 1, 2, 3}
        for r in stats:
            assert r["lo"] == 0 and r["hi"] == r["n"] - 1  # dense 0..n-1
        out.unpersist()

    def test_deterministic_order(self, docs):
        a = sorted(map(tuple, shuffle_shards(docs, 4, salt="s")
                       .select("doc_id", "shard", "pos").collect()))
        b = sorted(map(tuple, shuffle_shards(docs, 4, salt="s")
                       .select("doc_id", "shard", "pos").collect()))
        assert a == b

    def test_salt_reshuffles(self, docs):
        a = dict((r["doc_id"], (r["shard"], r["pos"]))
                 for r in shuffle_shards(docs, 4, salt="x").collect())
        b = dict((r["doc_id"], (r["shard"], r["pos"]))
                 for r in shuffle_shards(docs, 4, salt="y").collect())
        assert a != b

    def test_validation(self, docs):
        with pytest.raises(ValueError):
            shuffle_shards(docs, 0)


class TestTemperatureWeights:
    def test_alpha_limits_and_upsampling(self, spark):
        from modelardb_rs_spark.operators.mixing import temperature_weights

        rows = [(i, "big" if i < 90 else "small") for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        w1 = temperature_weights(df, 1.0)
        assert w1["big"] == pytest.approx(0.9) and w1["small"] == pytest.approx(0.1)
        w0 = temperature_weights(df, 0.0)
        assert w0["big"] == pytest.approx(0.5) and w0["small"] == pytest.approx(0.5)
        wh = temperature_weights(df, 0.5)
        # alpha=0.5 sits strictly between natural and uniform: the
        # small stratum is upsampled, the big one downsampled
        assert 0.1 < wh["small"] < 0.5 < wh["big"] < 0.9
        assert sum(wh.values()) == pytest.approx(1.0)
        # exact python replay (sorted-key order) — the contract the
        # SQL oracle depends on
        pw = {"big": 90.0 ** 0.5, "small": 10.0 ** 0.5}
        tot = pw["big"] + pw["small"]
        assert wh == {"big": pw["big"] / tot, "small": pw["small"] / tot}
        with pytest.raises(ValueError, match="alpha"):
            temperature_weights(df, -0.1)

    def test_composes_with_domain_mix(self, spark):
        from modelardb_rs_spark.operators.mixing import (
            domain_mix,
            temperature_weights,
        )

        rows = [(i, "big" if i < 180 else "small") for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        mixed = domain_mix(df, temperature_weights(df, 0.3), salt="tw")
        got = {r["source"]: r["n"] for r in
               mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
        # small stratum (10% of rows) is upsampled toward its ~39%
        # temperature share of the same-sized output; exact counts are
        # hash-decided, so assert the direction and rough magnitude
        assert got["small"] > 40  # natural share would be ~20 rows
        assert got["big"] < 180


class TestWeightedSample:
    def test_matches_python_replay_and_is_deterministic(self, spark):
        """The selected set and order must equal a literal python replay
        of the A-Res rule (md5-derived uniform, ln(u)/w key, ties by
        id) — pins the portable-hash formula the SQL oracle relies on."""
        import hashlib
        import math

        rows = [(i, float(1 + (i * 7) % 50)) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        out = weighted_sample(df, 20, "w", salt="t")
        got = [(r["sample_order"], r["doc_id"]) for r in out.collect()]
        assert sorted(r[0] for r in got) == list(range(1, 21))

        def key(i, wt):
            h = hashlib.md5(f"{i}t".encode()).hexdigest()[:8]
            u = (int(h, 16) + 1) / 4294967296.0
            return math.log(u) / wt
        expect = sorted(rows, key=lambda r: (-key(r[0], r[1]), r[0]))[:20]
        assert [d for _, d in sorted(got)] == [d for d, _ in expect]
        again = [(r["sample_order"], r["doc_id"]) for r in out.collect()]
        assert sorted(again) == sorted(got)

    def test_prefers_heavy_weights_and_excludes_nonpositive(self, spark):
        rows = [(i, 500.0 if i < 10 else 1.0) for i in range(200)]
        rows += [(900, 0.0), (901, -3.0), (902, None)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        heavy_hits = 0
        for salt in ("a", "b", "c", "d"):
            picked = {r["doc_id"] for r in
                      weighted_sample(df, 10, "w", salt=salt).collect()}
            assert picked.isdisjoint({900, 901, 902})
            heavy_hits += len(picked & set(range(10)))
        # 10 rows at weight 500 vs 190 at weight 1: the heavy rows
        # dominate every draw (expected ~9.6/10 per salt)
        assert heavy_hits >= 30

    def test_k_bounds(self, spark):
        df = spark.createDataFrame([(1, 2.0), (2, 1.0)], "doc_id long, w double")
        assert weighted_sample(df, 5, "w").count() == 2  # k > n: all rows
        with pytest.raises(ValueError, match="k must be"):
            weighted_sample(df, 0, "w")

    def test_selection_plans_as_take_ordered(self, spark):
        """The top-k selection must plan as TakeOrderedAndProject
        (per-partition partial top-k, no global sort) — the shape that
        keeps the operator corpus-scale; the rank window runs on the k
        survivors only."""
        rows = [(i, 1.0 + i) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        plan = (
            weighted_sample(df, 5, "w")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan, plan


class TestInt8Quantize:
    def test_codes_in_range_and_schema(self, vecs):
        out = quantize_int8(vecs).persist()
        assert out.columns[:3] == ["vec_id", "int8_codes", "embedding"]
        mx = out.select(
            F.max(F.array_max(F.transform("int8_codes", lambda c: F.abs(c)))).alias("m")
        ).first()["m"]
        assert mx <= 127
        out.unpersist()

    def test_extreme_value_hits_127(self, vecs):
        # the per-dim max |x| quantizes to exactly +-127 by construction
        codes = {r["vec_id"]: r["int8_codes"] for r in quantize_int8(vecs).collect()}
        flat = [c for arr in codes.values() for c in arr]
        assert max(flat) == 127 or min(flat) == -127

    def test_zero_dimension_keeps_code_zero(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0, 2.0]), (2, [0.0, -4.0])], "vec_id long, embedding array<float>"
        )
        rows = {r["vec_id"]: r["int8_codes"] for r in quantize_int8(df).collect()}
        assert rows[1][0] == 0 and rows[2][0] == 0
        assert rows[2][1] == -127

    def test_reconstruction_fidelity(self, vecs):
        stats = int8_reconstruction_stats(vecs).collect()
        assert len(stats) == 60
        scales = {r["dim"]: r["scale"] for r in int8_scales(vecs).collect()}
        half_lsb = max(scales.values()) / 2 + 1e-9
        for r in stats:
            assert r["max_abs_err"] <= half_lsb
            assert r["cos_to_original"] > 0.999

    def test_mismatched_scales_length_raises(self, spark, vecs):
        # scales fit on a 16-dim corpus must not silently zero-pad an
        # 8-dim batch (zip_with null-padding) — it must raise
        sc = int8_scales(vecs)  # 16 dims
        batch = spark.createDataFrame(
            [(1, [1.0] * 8)], "vec_id long, embedding array<float>"
        )
        with pytest.raises(Exception, match="scales length"):
            quantize_int8(batch, scales=sc).collect()
        with pytest.raises(Exception, match="scales length"):
            int8_reconstruction_stats(batch, scales=sc).collect()

    def test_external_scales_reused(self, spark, vecs):
        # quantizing a new batch with the corpus' scales keeps codes comparable
        sc = int8_scales(vecs)
        batch = spark.createDataFrame(
            [(100, [1.0] * 16)], "vec_id long, embedding array<float>"
        )
        out = quantize_int8(batch, scales=sc).collect()
        assert len(out[0]["int8_codes"]) == 16


class TestSemanticDedup:
    def test_planted_duplicates_dropped(self, vecs):
        dups = vecs.where(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * F.lit(1.001)).cast("float")).alias(
                "embedding"
            ),
        )
        corpus = vecs.unionByName(dups)
        kept = {r["vec_id"] for r in semantic_dedup(
            corpus, threshold=0.999, n_clusters=4
        ).select("vec_id").collect()}
        # every original survives; every planted copy (cos=1 with its
        # lower-id original, co-clustered by the near-zero L2 offset) drops
        assert all(i in kept for i in range(60))
        assert all((i + 1000) not in kept for i in range(0, 60, 5))

    def test_no_pairs_above_threshold_is_identity(self, vecs):
        kept = semantic_dedup(vecs, threshold=1.1, n_clusters=4)
        assert kept.count() == 60

    def test_sample_fit_bounds_training_set(self, vecs):
        # fit on 20 of 60 vectors — assignment still covers all, and the
        # planted exact duplicates still co-cluster and drop
        dups = vecs.where(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * F.lit(1.001)).cast("float")).alias(
                "embedding"
            ),
        )
        corpus = vecs.unionByName(dups)
        kept = {r["vec_id"] for r in semantic_dedup(
            corpus, threshold=0.999, n_clusters=4, fit_sample=20
        ).select("vec_id").collect()}
        assert all(i in kept for i in range(60))
        assert all((i + 1000) not in kept for i in range(0, 60, 5))

    def test_collapse_exact_same_result_one_rep_per_family(self, vecs):
        # an identical-vector family (byte-equal embeddings, distinct
        # ids) plus scaled near-dups: collapse_exact must keep exactly
        # the same set as the uncollapsed run — one representative (min
        # id) per family — while the pipeline only ever sees reps
        family = vecs.where(F.col("vec_id") == 3).crossJoin(
            vecs.sparkSession.range(1, 21).select(F.col("id").alias("__i__"))
        ).select(
            (F.col("vec_id") + 2000 + F.col("__i__")).alias("vec_id"),
            "embedding",
        )
        dups = vecs.where(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * F.lit(1.001)).cast("float")).alias(
                "embedding"
            ),
        )
        corpus = vecs.select("vec_id", "embedding").unionByName(dups).unionByName(family)
        plain = {r["vec_id"] for r in semantic_dedup(
            corpus, threshold=0.999, n_clusters=4
        ).select("vec_id").collect()}
        collapsed = {r["vec_id"] for r in semantic_dedup(
            corpus, threshold=0.999, n_clusters=4, collapse_exact=True
        ).select("vec_id").collect()}
        assert collapsed == plain
        # the family collapsed to its representative: vec 3 survives,
        # all 20 identical copies (ids 2004..2023) drop
        assert 3 in collapsed
        assert not any((2003 + i) in collapsed for i in range(1, 21))

    def test_collapse_exact_edges_nan_and_threshold(self, vecs):
        # NaN-bearing duplicates: cosine(NaN) fails every threshold, so
        # the plain path keeps them all — collapse_exact must too.
        nan_rows = vecs.where(F.col("vec_id") < 2).select(
            (F.col("vec_id") + 3000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i == 0, F.lit(float("nan"))).otherwise(x).cast(
                    "float"
                ),
            ).alias("embedding"),
        )
        corpus = vecs.select("vec_id", "embedding").unionByName(nan_rows).unionByName(
            nan_rows.select((F.col("vec_id") + 10).alias("vec_id"), "embedding")
        )
        collapsed = {r["vec_id"] for r in semantic_dedup(
            corpus, threshold=0.999, n_clusters=4, collapse_exact=True
        ).select("vec_id").collect()}
        # both identical NaN copies of each planted row survive
        assert {3000, 3001, 3010, 3011} <= collapsed
        # threshold > 1: nothing can pair, so collapse_exact must be an
        # identity too (it used to drop exact copies unconditionally)
        family = vecs.where(F.col("vec_id") == 3).select(
            (F.col("vec_id") + 4000).alias("vec_id"), "embedding"
        )
        corpus2 = vecs.select("vec_id", "embedding").unionByName(family)
        kept = semantic_dedup(
            corpus2, threshold=1.1, n_clusters=4, collapse_exact=True
        )
        assert kept.count() == 61

    def test_multiprobe_recovers_cluster_boundary_pair(self, spark):
        """The paper's documented recall trade: a near-dup pair whose two
        vectors fall on opposite sides of a k-means boundary is invisible
        at nprobe=1; nprobe=2 (each vector also joins its runner-up
        cluster) recovers it, and semantic_dedup then drops one of the
        two."""
        import math

        from modelardb_rs_spark.operators.similarity import (
            semantic_dedup,
            semantic_near_pairs,
        )

        dim = 8
        rows = []
        # two tight groups pull the k=2 centroids to (10,0,..) / (0,10,..)
        for i in range(20):
            a = [10.0 + 0.01 * i, 0.0] + [0.0] * (dim - 2)
            b = [0.0, 10.0 + 0.01 * i] + [0.0] * (dim - 2)
            rows.append((i, a))
            rows.append((100 + i, b))
        # the boundary pair: cosine ~0.997, one vector a hair into each
        # cluster — kmeans necessarily separates them
        rows.append((1000, [5.2, 4.8] + [0.0] * (dim - 2)))
        rows.append((1001, [4.8, 5.2] + [0.0] * (dim - 2)))
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id LONG, embedding ARRAY<FLOAT>",
        )
        cos_pair = (2 * 5.2 * 4.8) / (5.2**2 + 4.8**2)
        assert cos_pair > 0.99 and math.isclose(cos_pair, 0.9968, abs_tol=1e-3)

        p1 = {
            (r.id_a, r.id_b)
            for r in semantic_near_pairs(
                corpus, threshold=0.99, n_clusters=2, nprobe=1
            ).collect()
        }
        p2 = {
            (r.id_a, r.id_b)
            for r in semantic_near_pairs(
                corpus, threshold=0.99, n_clusters=2, nprobe=2
            ).collect()
        }
        assert (1000, 1001) not in p1  # the boundary miss
        assert (1000, 1001) in p2  # recovered by the runner-up probe
        assert p1 <= p2  # multi-probe only ADDS pairs
        kept = {
            r.vec_id
            for r in semantic_dedup(
                corpus, threshold=0.99, n_clusters=2, nprobe=2
            ).select("vec_id").collect()
        }
        assert 1000 in kept and 1001 not in kept

    def test_reuses_external_assignments(self, vecs):
        # a precomputed clustering (e.g. a persisted IVF index's vectors
        # table) skips the KMeans fit entirely
        from modelardb_rs_spark.operators.similarity import numpy_kmeans_buckets

        dups = vecs.where(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * F.lit(1.001)).cast("float")).alias(
                "embedding"
            ),
        )
        corpus = vecs.unionByName(dups)
        assigns = numpy_kmeans_buckets(corpus, k=4)[0].select("vec_id", "ivf_bucket")
        kept = {r["vec_id"] for r in semantic_dedup(
            corpus, threshold=0.999, assignments=assigns
        ).select("vec_id").collect()}
        assert all(i in kept for i in range(60))
        assert all((i + 1000) not in kept for i in range(0, 60, 5))
