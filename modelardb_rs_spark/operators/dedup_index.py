"""Persisted near-duplicate index: dedup new documents against the
CORPUS, not just against each other.

``minhash_dedup_pairs`` (operators/dedup.py) finds duplicates within
one DataFrame; a production ingest pipeline needs the other shape —
"is this incoming document a near-dup of anything we already kept?" —
without re-reading the corpus text. This module persists each kept
document's MinHash signature as an engine table (through the
transactional commit log, like every table), and checks batches of new
documents against it:

    build_minhash_index(engine, "corpus_idx", kept_docs)
    hits = near_dup_check(engine, "corpus_idx", new_docs)   # batch
    append_to_minhash_index(engine, "corpus_idx", new_uniques)

Scale shape: the index holds k BIGINT signature elements per KEPT doc
(no text, no shingles); a check computes the new batch's signatures (one shuffle
over its shingles), equi-joins band keys against the stored side
(work proportional to bucket sizes, never |new| x |corpus|), and
estimates Jaccard from the signatures themselves — matching signature
fraction — so the original corpus text is never touched. Estimated
Jaccard is the standard streaming trade (exact verification would need
stored shingles); choose k to taste.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_rs_spark.frames import rows_frame
from modelardb_rs_spark.operators.dedup import band_keys, minhash_signatures


def _sigs_table(index_name: str) -> str:
    return f"{index_name}__sigs"


def _meta_table(index_name: str) -> str:
    return f"{index_name}__meta"


def build_minhash_index(
    engine,
    index_name: str,
    df: DataFrame,
    k: int = 16,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_keep_mod: int | None = None,
) -> dict:
    """Build (or rebuild) the signature index over the kept corpus.
    Stores (id, h0..h{k-1}) plus a one-row parameter table so checks
    and appends always hash compatibly. ``shingle_keep_mod`` opts into
    consistent shingle sampling (operators/dedup.py) — it is part of
    the signature scheme, so it is persisted with the index and every
    later check/append reuses it; signatures computed under a
    different mod would silently never match. Returns ``{"n_docs"}``."""
    keep_mod = int(shingle_keep_mod) if shingle_keep_mod else 1
    sigs = minhash_signatures(df, k, n, text_col, id_col, keep_mod)
    st, mt = _sigs_table(index_name), _meta_table(index_name)
    for t in (st, mt):
        if t in engine.tables():
            engine.drop(t)
    sig_ddl = ", ".join([f"{id_col} BIGINT"] + [f"h{i} BIGINT" for i in range(k)])
    engine.create_table(st, sig_ddl)
    engine.create_table(mt, "k INT, bands INT, n INT, scheme STRING, keep_mod INT")
    engine.write(st, sigs)
    engine.write(
        mt,
        rows_frame(
            engine.spark,
            [(k, bands, n, _HASH_SCHEME, keep_mod)],
            "k int, bands int, n int, scheme string, keep_mod int",
        ),
    )
    return {"n_docs": engine.table(st).count()}


# Signature hash-scheme version, persisted with the index: checks and
# appends against an index built under a DIFFERENT scheme would silently
# miss every duplicate (signatures never match), so mismatches raise.
_HASH_SCHEME = "md5-km-v2"


def _params(engine, index_name: str) -> tuple[int, int, int, int]:
    row = engine.table(_meta_table(index_name)).collect()[0]
    scheme = row["scheme"] if "scheme" in row.__fields__ else "<pre-v2>"
    if scheme != _HASH_SCHEME:
        raise ValueError(
            f"index {index_name!r} was built with hash scheme {scheme!r}; "
            f"this engine computes {_HASH_SCHEME!r} — rebuild the index "
            "(build_minhash_index) before checking or appending"
        )
    # Indexes persisted before the sampling lever existed have no
    # keep_mod column; they were built unsampled, so default to 1 (off).
    keep_mod = int(row["keep_mod"]) if "keep_mod" in row.__fields__ and row["keep_mod"] else 1
    return int(row["k"]), int(row["bands"]), int(row["n"]), keep_mod


def near_dup_check(
    engine,
    index_name: str,
    new_df: DataFrame,
    min_est_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup hits of a new batch against the stored corpus index:
    (doc_id, matched_id, est_jaccard) for every (new, stored) candidate
    pair — banded-LSH blocked, Jaccard estimated as the matching
    signature fraction — at or above the threshold.

    ``max_bucket`` (default off) skips STORED band buckets holding more
    than that many documents — the ``lsh_candidate_pairs(max_bucket=)``
    guard applied to the ingest shape: one boilerplate band hash shared
    by s stored docs multiplies every colliding new doc into s
    candidate rows, so a degenerate stored bucket makes check cost
    batch×s instead of batch-proportional. The count is over the
    stored side only (combiner-friendly, narrow keys) and true dup
    groups are small, so real matches keep their buckets."""
    k, bands, n, keep_mod = _params(engine, index_name)
    stored = engine.table(_sigs_table(index_name))
    new_sigs = minhash_signatures(new_df, k, n, text_col, id_col, keep_mod)
    nb = band_keys(new_sigs, bands, id_col).select(
        F.col(id_col).alias("__new_id__"), "band", "band_hash"
    )
    sb = band_keys(stored, bands, id_col).select(
        F.col(id_col).alias("__old_id__"), "band", "band_hash"
    )
    if max_bucket is not None:
        sizes = sb.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).alias("__bucket_n__")
        )
        sb = (
            sb.join(sizes, ["band", "band_hash"])
            .where(F.col("__bucket_n__") <= max_bucket)
            .drop("__bucket_n__")
        )
    cand = (
        nb.join(sb, ["band", "band_hash"])
        .select("__new_id__", "__old_id__")
        .distinct()
    )
    ns = new_sigs.select(
        F.col(id_col).alias("__new_id__"), *[F.col(f"h{i}").alias(f"__nh{i}__") for i in range(k)]
    )
    ss = stored.select(
        F.col(id_col).alias("__old_id__"), *[F.col(f"h{i}").alias(f"__oh{i}__") for i in range(k)]
    )
    matches = None
    for i in range(k):
        m = (F.col(f"__nh{i}__") == F.col(f"__oh{i}__")).cast("int")
        matches = m if matches is None else matches + m
    return (
        cand.join(ns, "__new_id__")
        .join(ss, "__old_id__")
        .withColumn("est_jaccard", F.round(matches / F.lit(float(k)), 6))
        .where(F.col("est_jaccard") >= min_est_jaccard)
        .select(
            F.col("__new_id__").alias(id_col),
            F.col("__old_id__").alias("matched_id"),
            "est_jaccard",
        )
    )


def append_to_minhash_index(
    engine,
    index_name: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    txn: tuple[str, int] | None = None,
) -> dict:
    """Add newly-kept documents' signatures (one atomic append).
    ``txn`` passes a SetTransaction replay gate through to the commit
    (see Engine.write) for exactly-once streaming ingest."""
    k, _, n, keep_mod = _params(engine, index_name)
    sigs = minhash_signatures(df, k, n, text_col, id_col, keep_mod)
    version = engine.write(_sigs_table(index_name), sigs, txn=txn)
    if version is None:
        # txn replay gate skipped the commit: nothing was appended, and
        # reporting df.count() here would both mislead exactly-once
        # audits and launch a pointless Spark job on the no-op path.
        return {"appended": 0, "replayed": True}
    return {"appended": df.count(), "replayed": False}
