"""Retrieval-prep pipeline: chunk → embed → ANN-index → search.

The composition a RAG/retrieval corpus build runs end-to-end:
documents are chunked (text.chunk_documents), each chunk is embedded,
the vectors land in the persisted IVF index (operators/ann_index.py),
and query texts probe it. All Spark-side plumbing — chunk explosion,
vector columns, bucket assignment, partitioned index build, probe —
is real and scale-shaped (map-only chunk/embed, one index build,
partition-pruned probes).

The EMBEDDING is a deterministic md5-derived stub: the container has
no embedding model, and a fake that any SQL engine can reproduce makes
the whole pipeline value-checkable end-to-end (the same reasoning as
multimodal.attach_fake_media). Swapping in a real model is one
pandas_udf: replace ``fake_embedding`` with an Arrow-batched encoder
of the same (text → array<float>) signature.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from modelardb_rs_spark.operators.ann_index import build_ivf_index, ivf_index_topk
from modelardb_rs_spark.operators.text import chunk_documents

# chunk ids leave room for 100k chunks per document
_CHUNK_ID_STRIDE = 100_000


def fake_embedding(text: Column, dim: int = 8) -> Column:
    """Deterministic unit-free embedding stub: element i is an md5-hash
    of ('i:' || text) mapped to [-0.5, 0.5). Reproducible in any SQL
    engine with md5 — which is what makes the pipeline oracle-checkable.
    A real encoder drops in as an Arrow-batched pandas_udf of the same
    signature."""
    els = [
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), text)), 1, 8), 16, 10
            ).cast("long")
            / F.lit(4294967296.0)
            - F.lit(0.5)
        ).cast("float")
        for i in range(dim)
    ]
    return F.array(*els)


def chunk_bucket(text: Column, n_buckets: int) -> Column:
    """Deterministic md5 coarse bucket for the stub pipeline (a real
    build would train numpy_kmeans_buckets on the real embeddings)."""
    return (
        F.conv(F.substring(F.md5(text), 1, 4), 16, 10).cast("long")
        % F.lit(int(n_buckets))
    ).cast("int")


def build_rag_index(
    engine,
    index_name: str,
    docs: DataFrame,
    chunk_chars: int = 256,
    overlap_chars: int = 32,
    dim: int = 8,
    n_buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    encoder=None,
) -> dict:
    """Chunk the corpus, embed every chunk, and persist the IVF index.
    Chunk vec_id = doc_id * 100000 + chunk_idx (recover the source doc
    with div/mod). Returns build_ivf_index's stats.

    ``encoder`` is the model seam: any callable mapping a text Column
    to an array<float> Column — in practice an Arrow-batched
    pandas_udf wrapping a real embedding model (its output dim need
    not match ``dim``, which only parameterizes the default stub).
    With a real encoder the md5 chunk_bucket is replaced by a learned
    coarse quantizer (bucket_col=None routes build_ivf_index to the
    numpy k-means fit), since text-hash buckets carry no meaning in a real
    embedding space. Proven by
    tests/test_ann_index.py::test_rag_encoder_seam_swaps_in."""
    chunks = chunk_documents(docs, chunk_chars, overlap_chars, text_col, id_col)
    embed = encoder if encoder is not None else (lambda c: fake_embedding(c, dim))
    vectors = chunks.select(
        (F.col(id_col) * _CHUNK_ID_STRIDE + F.col("chunk_idx")).alias("vec_id"),
        embed(F.col("chunk_text")).alias("embedding"),
        chunk_bucket(F.col("chunk_text"), n_buckets).alias("bucket"),
    )
    if encoder is not None:
        return build_ivf_index(
            engine, index_name, vectors.drop("bucket"), bucket_col=None,
            n_buckets=n_buckets, id_col="vec_id", vec_col="embedding",
        )
    return build_ivf_index(
        engine, index_name, vectors, bucket_col="bucket",
        id_col="vec_id", vec_col="embedding",
    )


def rag_search(
    engine,
    index_name: str,
    queries: DataFrame,
    dim: int = 8,
    k: int = 5,
    nprobe: int = 2,
    text_col: str = "query_text",
    id_col: str = "query_id",
    encoder=None,
) -> DataFrame:
    """Embed query texts with the same encoder the index was built with
    (default: the stub) and probe the persisted index. Output:
    (query_id, neighbor_id, cos, rank) with neighbor_id = chunk
    vec_id."""
    embed = encoder if encoder is not None else (lambda c: fake_embedding(c, dim))
    q = queries.select(
        F.col(id_col).alias("vec_id"),
        embed(F.col(text_col)).alias("embedding"),
    )
    out = ivf_index_topk(engine, index_name, q, k=k, nprobe=nprobe)
    return out.withColumnRenamed("query_id", id_col)
