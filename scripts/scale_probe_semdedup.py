"""Semantic-dedup scale probe: a >= 1M-vector measurement showing (a)
the k-means FIT cost stays bounded because it runs on a fixed-size
seeded sample (``numpy_kmeans_buckets``), and (b) the within-cluster
pairwise work tracks ~N^2/k, i.e. the n_clusters lever works as the
SemDeDup paper claims.

Corpus: the sf embeddings table (2000 x 64-dim at sf0.1) replicated
N x with a deterministic per-copy perturbation (JVM `transform`, no
Python), written to parquet so every stage reads a real table. The
perturbation is +- up to 5% per component, so replicas of the same
base vector stay near-duplicates (cos ~ 0.999) — a realistic dup-heavy
corpus where dedup has real work to do.

Measured:
  - k-means fit + assignment wall time with fit_sample=65536 at
    increasing N (the fit must stay ~flat; assignment is one map pass),
  - within-cluster candidate-pair count vs the N^2/k prediction at
    several k (the pairwise-work lever),
  - end-to-end semantic_dedup wall time at the largest N with the
    sampled fit.

Usage: python scripts/scale_probe_semdedup.py [N_copies ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from modelardb_rs_spark.operators import similarity as sim
from modelardb_rs_spark.session import make_spark
from modelardb_rs_spark.sources.testdata import load_table


def replicate(base, n_copies):
    """n_copies deterministic perturbed copies, unique ids."""
    copies = base.crossJoin(
        F.broadcast(
            base.sparkSession.range(n_copies).select(F.col("id").alias("__copy__"))
        )
    )
    return copies.select(
        (F.col("vec_id") + F.col("__copy__") * 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (
                x
                * (
                    F.lit(1.0)
                    + (
                        F.pmod(
                            F.xxhash64(F.col("vec_id"), F.col("__copy__"), i),
                            F.lit(1000),
                        ).cast("double")
                        / F.lit(10000.0)
                        - F.lit(0.05)
                    )
                )
            ).cast("float"),
        ).alias("embedding"),
    )


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [125, 250, 500]
    spark = make_spark(app_name="sparkmodelar-semdedup-probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, "/root/testdata/sf0.1", "embeddings").select(
        "vec_id", "embedding"
    )

    out = {"rows_per_copy": base.count(), "runs": []}
    tmp = tempfile.mkdtemp(prefix="semdedup_probe_")
    try:
        for n_copies in sizes:
            path = os.path.join(tmp, f"c{n_copies}.parquet")
            replicate(base, n_copies).write.mode("overwrite").parquet(path)
            corpus = spark.read.parquet(path)
            n = corpus.count()
            run = {"n_copies": n_copies, "n_vectors": n}

            # fit cost: the sampled fit runs at every size to show it
            # stays flat
            t0 = time.time()
            buckets = sim.numpy_kmeans_buckets(corpus, k=64, fit_sample=65536)[0]
            buckets.select(F.max("ivf_bucket")).collect()
            run["fit_sampled_s"] = round(time.time() - t0, 1)

            # pairwise-work lever: candidate pairs vs N^2/(2k) at two k,
            # counted from cluster sizes (an aggregate — the pairs are
            # never materialized here)
            for k in (64, 256):
                b = sim.numpy_kmeans_buckets(corpus, k=k, fit_sample=65536)[0].select(
                    "vec_id", "ivf_bucket"
                )
                sizes_df = b.groupBy("ivf_bucket").count()
                pairs = sizes_df.select(
                    F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p")
                ).first()["p"]
                run[f"pairs_k{k}"] = int(pairs)
                run[f"n2_over_2k_k{k}"] = int(n * n / (2 * k))

            out["runs"].append(run)
            print(json.dumps(run), flush=True)

        # end-to-end at the SMALLEST size, with k sized for ~500-vector
        # clusters (the paper's constant-membership regime); at larger N
        # the e2e cost is pairs x verify, which the pairs_k* rows above
        # already predict — materializing 1e9+ pairs on local[32] would
        # measure the laptop, not the operator.
        smallest = os.path.join(tmp, f"c{sizes[0]}.parquet")
        corpus = spark.read.parquet(smallest)
        n0 = corpus.count()
        k0 = max(64, n0 // 500)
        t0 = time.time()
        kept = sim.semantic_dedup(
            corpus, threshold=0.999, n_clusters=k0, fit_sample=65536
        ).count()
        out["e2e_s"] = round(time.time() - t0, 1)
        out["e2e_kept"] = kept
        out["e2e_n"] = n0
        out["e2e_k"] = k0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
