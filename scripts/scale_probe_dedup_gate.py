"""Online semantic-dedup gate probe: what does admission checking cost
against a MILLION-vector index, and how much of the index does it read?

The gate (`ann_index.semantic_dedup_check`) is one IVF probe: the batch
scores the broadcast centroids, the union of probed buckets becomes a
partition IN-filter, and only those buckets' files are scanned. This
probe builds an index over the sf corpus replicated N x (deterministic
per-copy perturbation, JVM transform — same recipe as
scale_probe_vectors.py), then times the gate on a mixed batch (half
exact copies of indexed vectors -> must flag, half negated -> must
pass) and reports the probed-file fraction, the wall, and per-vector
cost. The exact-scan alternative (brute-force cosine of the batch
against the whole corpus) is timed on a 1/16 sub-batch and scaled — at
|batch| x |corpus| pair volume it is the thing the gate exists to
avoid.

Usage: python scripts/scale_probe_dedup_gate.py [N_copies] [batch] [sf_dir]
         (default 2000 8192 /root/testdata/sf0.01 -> 1M-vector index)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from modelardb_rs_spark.engine import Engine
from modelardb_rs_spark.operators import ann_index as ann
from modelardb_rs_spark.operators import similarity as sim
from modelardb_rs_spark.session import make_spark
from modelardb_rs_spark.sources.testdata import load_table


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    batch_n = int(sys.argv[2]) if len(sys.argv) > 2 else 8192
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    spark = make_spark(app_name="dedup-gate-probe")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base_n = emb.count()

    copies = spark.range(n_copies).select(F.col("id").alias("__c__"))
    corpus = (
        emb.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("__c__") * base_n).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (x * (F.lit(1.0) + F.col("__c__") / F.lit(1e7))).cast("float"),
            ).alias("embedding"),
        )
        .repartition(32)
    )
    eng = Engine(spark, tempfile.mkdtemp(prefix="smdl_gateprobe_"))
    t0 = time.time()
    stats = ann.build_ivf_index(
        eng, "gp_idx", corpus, bucket_col=None, n_buckets=64, fit_sample=16384
    )
    build_s = round(time.time() - t0, 1)

    half = batch_n // 2
    dup_batch = corpus.orderBy("vec_id").limit(half).select(
        (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"), "embedding"
    )
    uniq_batch = corpus.orderBy("vec_id").limit(half).select(
        (F.col("vec_id") + F.lit(2_000_000_000)).alias("vec_id"),
        F.transform("embedding", lambda x: (-x).cast("float")).alias("embedding"),
    )
    batch = dup_batch.unionByName(uniq_batch).persist()
    batch.count()

    t0 = time.time()
    checked = ann.semantic_dedup_check(eng, "gp_idx", batch, threshold=0.9999, nprobe=2)
    flagged = checked.where(F.col("dup_of").isNotNull()).count()
    gate_s = round(time.time() - t0, 2)

    total_files = len(eng.folder.log("gp_idx__vectors").snapshot().files)
    # the probe collects its query set, which is bounded: count the files
    # a slice of at most MAX_COLLECTED_QUERIES rows would read
    probe_n = min(batch_n, sim.MAX_COLLECTED_QUERIES)
    probed_files = len(
        ann.ivf_index_topk(eng, "gp_idx", batch.limit(probe_n), k=1, nprobe=2).inputFiles()
    )

    # exact-scan baseline on a TINY sub-batch, scaled: the full
    # batch x corpus pair volume (8192 x 1M pairs, each shipping a
    # 64-dim query vector through Arrow) is hundreds of GB of transfer
    # — the quadratic the gate exists to avoid, and far too large to
    # run outright even once; 64 queries x 1M corpus bounds the probe
    # at ~64M pairs and the linear scaling is exact (per-query cost is
    # corpus-proportional)
    sub = batch.limit(64).persist()
    sub_n = sub.count()
    t0 = time.time()
    sim.brute_force_topk(corpus, sub, k=1).count()
    exact_s = round((time.time() - t0) * (batch_n / sub_n), 1)

    print(json.dumps({
        "corpus_vectors": stats["n_vectors"], "n_buckets": stats["n_buckets"],
        "build_s": build_s, "batch": batch_n, "flagged": flagged,
        "gate_s": gate_s, "gate_ms_per_vector": round(1000 * gate_s / batch_n, 3),
        "probed_files": probed_files, "probed_files_queries": probe_n,
        "total_files": total_files,
        "exact_scan_s_scaled": exact_s,
    }))


if __name__ == "__main__":
    main()
