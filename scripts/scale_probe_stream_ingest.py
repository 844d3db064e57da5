"""Streaming near-dup ingest scale probe (streaming/ingest.py::
near_dup_ingest_batch): sustained epochs against a >= 1M-doc persisted
MinHash index — the path the batch probes never exercised.

What it measures, per epoch:
  - wall seconds of the full epoch (within-batch collapse -> index
    check -> table append -> index append -> epoch marker; each append
    compacts its table once the compaction rule trips),
  - live file counts of the corpus table and the signature index
    (fragmentation under per-epoch small appends, and whether the
    append-time compaction rule keeps them bounded),
  - rows kept/dropped.

Epoch composition: `dup_frac` of each batch are near-dups of indexed
docs (must be dropped via the index check), the rest are batch-unique
mutations (must survive and grow the index) — so the check path and
both append paths run every epoch.

Usage: python scripts/scale_probe_stream_ingest.py [index_copies]
         [epochs] [batch_size] [sf_dir]
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
from modelardb_rs_spark.operators import dedup_index as ndi
from modelardb_rs_spark.session import make_spark
from modelardb_rs_spark.sources.testdata import load_table
from modelardb_rs_spark.streaming.ingest import near_dup_ingest_batch
from scale_probe_docs import replicate


def main() -> None:
    index_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    batch_size = int(sys.argv[3]) if len(sys.argv) > 3 else 10_000
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    dup_frac = 0.3

    spark = make_spark(app_name="sparkmodelar-stream-probe")
    spark.sparkContext.setLogLevel("ERROR")
    eng = Engine(spark, tempfile.mkdtemp(prefix="stream_probe_"))
    eng.create_table("clean_docs", "doc_id BIGINT, text STRING")
    # start_near_dup_ingest creates this; the probe drives the batch
    # body directly, so create it the same way here
    eng.create_table("clean_docs__ingest_epochs", "epoch BIGINT")

    corpus = (
        replicate(load_table(spark, sf_dir, "documents"), index_copies)
        .select("doc_id", "text")
        .persist()
    )
    n_corpus = corpus.count()
    t0 = time.time()
    ndi.build_minhash_index(eng, "probe_idx", corpus)
    build_secs = round(time.time() - t0, 1)
    print(json.dumps({"index_docs": n_corpus, "index_build_secs": build_secs}), flush=True)

    n_dup = int(batch_size * dup_frac)
    n_new = batch_size - n_dup
    per_epoch = []
    for e in range(1, epochs + 1):
        # near-dups of indexed docs: a tiny leading-token edit of corpus
        # rows (the replicate scheme's true-near-dup shape); fresh docs:
        # an epoch-unique token woven between every word kills every
        # shared shingle with everything already stored.
        dups = corpus.limit(n_dup).select(
            (F.col("doc_id") + F.lit(e * 1_000_000_000)).alias("doc_id"),
            F.concat(F.lit(f"ep{e} "), F.col("text")).alias("text"),
        )
        # weave a DOC-unique token between every word: the synthetic docs
        # draw from a tiny vocabulary, so any token shared across docs
        # would collapse their shingle sets into near-identity (word
        # order is the only distinguishing signal); a per-doc token
        # shares no shingle with anything stored or in-batch.
        news = (
            corpus.where(F.col("doc_id") >= 40_000_000)
            .limit(n_new)
            .withColumn(
                "text",
                F.expr(
                    f"regexp_replace(text, ' ', concat(' ep{e}d', CAST(doc_id AS STRING), 'q '))"
                ),
            )
            .select(
                (F.col("doc_id") + F.lit(e * 1_000_000_000 + 500_000_000)).alias("doc_id"),
                "text",
            )
        )
        batch = dups.unionByName(news)
        t0 = time.time()
        near_dup_ingest_batch(eng, "probe_idx", "clean_docs", batch, e)
        secs = round(time.time() - t0, 1)
        tbl_files = len(eng.folder.log("clean_docs").snapshot().files)
        idx_files = len(eng.folder.log(ndi._sigs_table("probe_idx")).snapshot().files)
        row = {
            "epoch": e,
            "secs": secs,
            "table_files": tbl_files,
            "index_files": idx_files,
        }
        per_epoch.append(row)
        print(json.dumps(row), flush=True)

    kept = eng.table("clean_docs").count()
    print(
        json.dumps(
            {
                "index_docs": n_corpus,
                "index_build_secs": build_secs,
                "epochs": epochs,
                "batch_size": batch_size,
                "dup_frac": dup_frac,
                "kept_rows": kept,
                "expected_kept": epochs * n_new,
                "epoch_secs": [r["secs"] for r in per_epoch],
                "final_table_files": per_epoch[-1]["table_files"],
                "final_index_files": per_epoch[-1]["index_files"],
            }
        )
    )


if __name__ == "__main__":
    main()
