"""Similarity search over embedding columns (``array<float>``).

- **Brute-force cosine top-k** — the exact baseline: broadcast the query
  set, score every (query, corpus) pair (Arrow-batched numpy by
  default; ``dim=`` opts into the codegen-unrolled JVM chain), rank
  per query. Cost is |Q|·|C| dot products, map-only over the corpus
  with the queries broadcast — at 100 TB this is the right shape for
  small query sets, and the component every ANN variant verifies
  against.
- **IVF (inverted-file) top-k** — the scale path: coarse quantization
  by a bucket column, either a natural one (the embeddings table
  carries a cluster ``label``) or one learned by the one k-means fit,
  ``numpy_kmeans_buckets``. Centroids are the per-bucket means of the
  one bucket-mean kernel, ``bucket_means``. Queries probe only the
  ``nprobe`` nearest centroids' buckets, cutting the scored pairs by
  |buckets|/nprobe; the probed rows are scored in one scan of the
  corpus.
- **Threshold pair counting** — cosine >= t pair enumeration for dedup
  pipelines (embedding-cosine near-dup).

Which cosine form is canonical for which shape (the SCALE.md "Round-9"
operational rule, measured):

- **Per-CANDIDATE-pair scoring over an unbounded pair stream** (LSH
  top-k candidates, brute-force and threshold pair joins): the
  Arrow-batched numpy ``cosine_batch_udf`` — the interpreted
  ``zip_with``/``aggregate`` Column form is CodegenFallback at ~100us
  per evaluation, which IS the wall once the expression is evaluated
  once per pair (measured 0.75s vs 1.0s already at 20k pairs; ~100x at
  millions). ``dim=`` opts into the codegen-unrolled ``dot_fixed``
  chain instead: fully JVM-side (no Arrow transfer of pair-expanded
  vectors), but it costs ~dim x 6 py4j calls of PLAN build, so it only
  pays above ~10^6 scored pairs with a known small dim.
- **Whole-BUCKET quadratic verifies** (semantic dedup, the LSH
  near-dup leg ``embedding_near_dup_pairs``, the ingest gate
  ``ann_index.semantic_dedup_check``): one block function,
  ``cosine_blocks`` (chunked numpy matmul, ~32 MB blocks, NaN for
  NULL/NaN/zero-norm vectors), inside ``applyInPandas`` — candidates
  never exist as rows. The all-pairs verify is ``_near_pairs_fn``, the
  gate's best-peer reduction ``best_peers``; a hot bucket distributes
  EXACTLY through the one chunk plan ``_chunk_plan`` (``max_bucket_rows``:
  one task per chunk pair, or per corpus chunk in the gate).
- **Per-(row, centroid) assignment** (k-means fit and assign,
  multi-probe, PQ encode): the chunked numpy kernel
  ``nearest_centroids`` — on executors inside
  ``_numpy_centroid_assign``'s mapInPandas batch scan (centroid matrix
  in the closure), on the driver inside the k-means/PQ fits.
- **Metadata-sized scoring** (|Q| x n_buckets centroid probes):
  ``pq.probe_buckets`` on the driver, over the collected query set —
  it sums in this module's ``dot`` order, so it ranks buckets exactly
  as the Column ``cosine`` (the SQL-oracle mirror) would.
- **IVF and PQ probes** (exact scoring within probed buckets, ADC
  scoring and the exact re-rank of its shortlist): the numpy kernel
  ``pq.adc_topk``, one ``mapInArrow`` pass over the scanned codes and
  vectors, summing in this module's ``dot`` order so values match the
  Column algebra bit for bit.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf resolves pd.Series hints
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two float array columns (f64 accumulate)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """Dot product unrolled for a KNOWN dimension: a left-to-right chain
    of ``element_at(a,i) * element_at(b,i)`` adds seeded with 0.0 —
    bit-identical accumulation order to ``dot``, but fully
    codegen-able. ``zip_with``/``aggregate`` are CodegenFallback
    expressions: evaluated interpreted they cost ~100us per call
    (per-element type dispatch + a boxed intermediate array), which is
    invisible per-row but IS the whole wall when the expression lands in
    a join condition evaluated once per candidate pair (measured: the
    round-9 semantic-dedup verify crawled at ~350s CPU per task on a
    14k-vector fixture before this change). The unrolled chain compiles
    to primitive array getters; Spark splits long chains across
    generated methods, so realistic embedding dims stay inside codegen.
    Dims above 2048 fall back to ``dot`` (expression-tree depth)."""
    if dim > 2048:
        return dot(a, b)
    acc = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + (
            F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
        )
    return acc


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def norm_fixed(a: Column, dim: int) -> Column:
    return F.sqrt(dot_fixed(a, a, dim))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm side yields NULL (never passes a threshold,
    # never ranks) instead of an ANSI DIVIDE_BY_ZERO error — the shared
    # never-pair policy for degenerate vectors.
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_batch_udf():
    """Vectorized cosine as an Arrow-batched pandas UDF — the right
    tool when the cosine is evaluated once per CANDIDATE pair over an
    unbounded candidate stream (SCALE.md "Round-9" operational rule:
    the interpreted ``zip_with``/``aggregate`` form costs ~100us per
    evaluation; this is ~ns inside numpy). Degenerate rows — zero-norm,
    NULL, or length-mismatched vectors — yield NaN (the Column form
    yielded NULL for NULLs; both are dropped by every caller's guard) —
    note a Spark-side ``cos >= t`` compare PASSES NaN (NaN > any
    double), so callers thresholding the result must pair it with a
    ``~isnan`` guard (as ``cosine_threshold_pairs`` does).

    Marked NON-DETERMINISTIC as an optimizer fence, not as a semantic
    statement (the function is a pure cosine): every ranking caller
    filters on the UDF-computed column (``ranked_topk``'s NaN guard),
    and Catalyst's filter pushdown then evaluates the UDF TWICE — once
    below the pushed filter and once in the surviving projection
    (plans/r13/sim_bruteforce_topk_before.txt shows the double
    ArrowEvalPython). The flag forbids the duplication, halving the
    Python-eval work of every corpus-sized scoring stage (guide §4.4
    pattern)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        av, bv = a.to_numpy(), b.to_numpy()
        n = len(av)
        lens_a = np.fromiter(
            (len(x) if x is not None else -1 for x in av), dtype=np.int64, count=n
        )
        lens_b = np.fromiter(
            (len(x) if x is not None else -1 for x in bv), dtype=np.int64, count=n
        )
        good = (lens_a == lens_b) & (lens_a > 0)
        if not good.any():
            return pd.Series(np.full(n, np.nan))
        # pairs can mix dims (e.g. a corrupt row): group by dim so each
        # stack is rectangular; the common case is one group
        out = np.full(n, np.nan)
        for dim in np.unique(lens_a[good]):
            idx = np.nonzero(good & (lens_a == dim))[0]
            A = np.stack(av[idx]).astype(np.float64, copy=False)
            B = np.stack(bv[idx]).astype(np.float64, copy=False)
            with np.errstate(divide="ignore", invalid="ignore"):
                out[idx] = (A * B).sum(axis=1) / (
                    np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
                )
        return pd.Series(out)

    return _cos.asNondeterministic()


MAX_COLLECTED_QUERIES = 4096


def collect_query_rows(
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = None,
):
    """Driver-side query-set collect for every probe of ``pq.adc_topk``
    (``ivf_topk``, ``pq.pq_topk``, ``ann_index.ivf_index_topk``,
    ``ann_index.ivfpq_topk``), whose query vectors, centroid probes and
    lookup tables ride the scoring kernel's closure — bounded so a
    mistakenly-large query TABLE fails with a clear error instead of
    building |Q| per-query probes on the driver. The bound is enforced
    with a ``limit(n+1)`` taken by ``toArrow`` — one job (a ``collect``
    of the limit scans one partition first and then the rest, two jobs)
    and no separate count. Returns an Arrow table of (id, vector)
    columns. Larger query sets go in batches of at most the bound, or
    through ``brute_force_topk``; the PQ paths take ``max_queries`` for
    a deliberate larger broadcast budget."""
    bound = MAX_COLLECTED_QUERIES if max_queries is None else int(max_queries)
    rows = queries.select(id_col, vec_col).limit(bound + 1).toArrow()
    if rows.num_rows > bound:
        raise ValueError(
            f"query set exceeds {bound} rows: this ANN path collects queries "
            "driver-side to ship per-query probes; split the query table into "
            "batches, use brute_force_topk, or raise max_queries where the path "
            "takes it"
        )
    return rows


def ranked_topk(
    scored: DataFrame,
    k: int,
    key_col: str = "query_id",
    id_col: str = "neighbor_id",
    score_col: str = "cos",
) -> DataFrame:
    """Per-key top-k over a scored pair set — the ANN scoring paths'
    final rank, shared so every variant ranks identically (score desc,
    id asc, deterministic ties).

    Expressed as the canonical ``row_number().over(partitionBy(key))
    <= k`` filter ON PURPOSE: Spark >= 3.5 plans exactly this shape as
    a TWO-PHASE rank limit (SPARK-37099 — ``WindowGroupLimit Partial``
    before the exchange, ``Final`` after), so each input partition
    forwards only its k best rows per key and the exchange carries
    ~partitions x keys x k rows, never the corpus-sized scored set; no
    reducer sorts more than its survivors even when queries are few.
    A hand-rolled salted two-phase window is strictly worse here: same
    map-side work, but salts x more survivors through an EXTRA
    exchange. The pushdown applies while k <=
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000 —
    far above any ANN k/rerank); the plan shape is pinned by
    tests/test_plans.py::test_ann_rank_is_two_phase so a regression
    can't silently reintroduce the full shuffle-and-sort.

    NaN scores (zero-norm query or corpus vector -> 0/0 cosine) are
    DROPPED before ranking: Spark and DuckDB both order NaN above every
    double, so without the filter a degenerate vector would outrank
    every true neighbor in EVERY variant's top-k. This is the one
    deliberate divergence from a naive SQL mirror that replays
    ``ORDER BY cos DESC`` without a NaN guard — all engine top-k paths
    (brute force, IVF, LSH, PQ) share this rank, so they agree with
    each other by construction."""
    w = Window.partitionBy(key_col).orderBy(F.col(score_col).desc(), F.col(id_col))
    return (
        # NULL (try_divide by zero norm) and NaN (numpy 0/0) both mean
        # "degenerate vector": drop before ranking. isnan(NULL) is
        # false in Spark, so the NOT NULL term is load-bearing.
        scored.where(
            F.col(score_col).isNotNull() & ~F.isnan(F.col(score_col))
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(key_col, id_col, score_col, "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: for each query row, the k nearest corpus rows
    (self-matches excluded). Ties broken by corpus id for determinism;
    cosine rounded to 6 before ranking so float noise can't flip ranks
    across engines. Output: (query_id, neighbor_id, cos, rank).

    The per-pair cosine is the Arrow-batched numpy form by default —
    this is the unbounded-pair-stream shape of the module docstring's
    canonical-form rule (the interpreted Column form measured 1.4x
    slower already at 20k pairs and ~100x at millions). Passing ``dim``
    swaps in the codegen-unrolled ``dot_fixed`` chain instead: fully
    JVM-side, no Arrow transfer of the pair-expanded vectors — the form
    for billion-pair scans with a known small dim, but it costs ~dim x
    6 py4j calls of PLAN build (~2 s at dim=64), so it stays opt-in."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv__")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv__")
    )
    if dim is not None:
        # norms once per side before the join (a per-pair cosine()
        # would recompute both norms |Q|·|C| times)
        q = q.withColumn("__qn__", norm_fixed(F.col("__qv__"), dim))
        c = c.withColumn("__cn__", norm_fixed(F.col("__cv__"), dim))
        cos = F.try_divide(
            dot_fixed(F.col("__qv__"), F.col("__cv__"), dim),
            F.col("__qn__") * F.col("__cn__"),
        )
    else:
        cos = cosine_batch_udf()(F.col("__qv__"), F.col("__cv__"))
    pairs = c.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.withColumn("cos", F.round(cos, 6))
    return ranked_topk(scored, k)


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal marginal relevance re-rank (Carbonell & Goldstein, SIGIR
    1998 — the standard diversity re-rank for retrieval and
    training-data sampling): greedily select ``k`` of each query's
    candidates maximizing ``lam * rel - (1 - lam) * max_sim_to_selected``,
    so near-duplicate candidates can't crowd a result list. ``lam=1``
    degenerates to plain top-k; lower ``lam`` trades relevance for
    diversity.

    ``candidates`` is any scored top-N frame of shape (query_id,
    neighbor_id, cos) — ``brute_force_topk`` / ``ivf_index_topk`` /
    ``ivfpq_topk`` output feeds in directly, so the candidate generator
    and the re-rank compose freely. Returns (query_id, neighbor_id,
    mmr_rank) with mmr_rank 1..k in selection order.

    Scale shape: one hash join attaches candidate vectors (the
    candidate side is |Q| x N rows — tiny next to the corpus; AQE
    broadcasts it when it fits), then ONE ``applyInPandas`` group per
    query runs the greedy loop over its own N candidates — per-task
    memory is N x dim + N^2 scores, bounded by the pool size, and
    queries distribute freely (no driver-side query collect, unlike
    the LUT paths — this re-rank serves unbounded query tables).
    Pairwise sims come from ``cosine_blocks`` and round to 6 decimals
    with ``_round6_half_away`` (DuckDB's round) so ranks can't flip
    across engines; ties break to the smallest neighbor id; the
    empty-selected-set similarity term is 0. NaN-rel candidates never
    arrive (ranked_topk drops them) and NULL or zero-norm pairwise sims
    count as 0 via try-divide semantics."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv__")
    )
    j = candidates.select("query_id", "neighbor_id", "cos").join(nv, "neighbor_id")
    qid_type = j.schema["query_id"].dataType
    nid_type = j.schema["neighbor_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_type, True),
            T.StructField("neighbor_id", nid_type, True),
            T.StructField("mmr_rank", T.IntegerType(), False),
        ]
    )
    lam64 = float(lam)

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["neighbor_id"].to_numpy()
        rel = pdf["cos"].to_numpy().astype(np.float64)
        n = len(ids)
        raw = np.concatenate([b for _, b in cosine_blocks(pdf["__nv__"])])
        sims = np.nan_to_num(_round6_half_away(raw), nan=0.0)
        # first pick: S is empty, the similarity term is 0 by
        # convention, so the score is lam * rel for every candidate
        pick = int(np.lexsort((ids, -(lam64 * rel)))[0])
        selected: list[int] = [pick]
        remaining = np.ones(n, dtype=bool)
        remaining[pick] = False
        # TRUE max over the selected set — no 0 floor: a candidate
        # anti-correlated with everything selected gets a BOOST, the
        # standard MMR semantics (and what the SQL oracle replays)
        max_sim = sims[:, pick].copy()
        for _ in range(min(k, n) - 1):
            score = np.where(
                remaining, lam64 * rel - (1.0 - lam64) * max_sim, -np.inf
            )
            # argmax with smallest-id ties: lexsort is ascending, so
            # sort by (-score, id) and take the first
            pick = int(np.lexsort((ids, -score))[0])
            selected.append(pick)
            remaining[pick] = False
            max_sim = np.maximum(max_sim, sims[:, pick])
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].to_numpy()[selected],
                "neighbor_id": ids[selected],
                "mmr_rank": np.arange(1, len(selected) + 1, dtype=np.int32),
            }
        )

    return j.groupBy("query_id").applyInPandas(fn, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
) -> DataFrame:
    """Approximate top-k via inverted-file probing.

    1. centroid per bucket = element-wise mean of its vectors
       (``bucket_means``, one job, merged rows on the driver),
    2. each query of the collected query set (bounded by
       ``collect_query_rows``) keeps its ``nprobe`` nearest buckets
       (``pq.probe_buckets``),
    3. one scan of the corpus ranks exact cosine within each query's
       probed buckets (``pq.adc_topk``).

    Recall < 1 by construction; callers validate against
    ``brute_force_topk`` (see tests).
    """
    from modelardb_rs_spark.operators.pq import adc_topk

    qrows = collect_query_rows(queries, id_col, vec_col)
    cents = [(b, c) for b, c, _ in bucket_means(corpus, vec_col, bucket_col)]
    scan = corpus.select(
        F.col(id_col), F.col(bucket_col).alias("ivf_bucket"), F.col(vec_col)
    )
    return adc_topk(scan, None, qrows, k, None, id_col, vec_col, cents=cents, nprobe=nprobe)


def bucket_means(df: DataFrame, vec_col: str = "embedding", bucket_col: str = "label") -> list:
    """Element-wise mean vector and vector count per bucket, as driver
    rows ``(bucket, mean, n_vectors)`` sorted by bucket — THE per-bucket
    mean kernel: the inline ``ivf_topk`` centroids, the ``bucket_col``
    index builds and ``ann_index.ivf_index_stats``' drift all call it.

    One job: each partition sums its vectors per bucket in numpy over
    its Arrow batches (``mapInArrow``), and an RDD ``reduceByKey``
    merges those partials per bucket before they reach the driver, so
    the driver holds buckets x dim values whatever the partition count.
    Means are float64 sums divided by the count, rounded to float32 as
    the stored ``ARRAY<FLOAT>`` centroids are. A NULL or empty vector is
    skipped; a NaN (or NULL) element makes its bucket's mean NaN there.
    Vectors of mixed length raise ``ValueError``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql import types as T

    src = df.select(bucket_col, vec_col)
    schema = T.StructType(
        [
            T.StructField("bucket", src.schema[bucket_col].dataType),
            T.StructField("dim", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("sums", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(batches):
        acc: dict = {}
        key_type = None
        for batch in batches:
            key_type = batch.column(0).type
            vecs = batch.column(1)
            lens = pc.list_value_length(vecs).fill_null(0).to_numpy(zero_copy_only=False)
            enc = pc.dictionary_encode(batch.column(0), null_encoding="encode")
            keys = enc.dictionary.to_pylist()
            groups = enc.indices.to_numpy(zero_copy_only=False)
            for d in np.unique(lens[lens > 0]):
                rows = lens == d
                X = vecs.filter(pa.array(rows)).flatten().to_numpy(zero_copy_only=False)
                X = X.astype(np.float64).reshape(-1, d)
                g = groups[rows]
                for j in np.unique(g):
                    sel = g == j
                    n, s = acc.get((keys[j], int(d)), (0, 0.0))
                    acc[(keys[j], int(d))] = (n + int(sel.sum()), s + X[sel].sum(axis=0))
        if acc:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([b for b, _ in acc], type=key_type),
                    pa.array([d for _, d in acc], type=pa.int32()),
                    pa.array([n for n, _ in acc.values()], type=pa.int64()),
                    pa.array([s.tolist() for _, s in acc.values()], type=pa.list_(pa.float64())),
                ],
                names=["bucket", "dim", "n", "sums"],
            )

    # one reduce task: it holds what the driver holds, buckets x dim
    merged = (
        src.mapInArrow(partials, schema)
        .rdd.map(lambda r: ((r[0], r[1]), (r[2], np.asarray(r[3]))))
        .reduceByKey(lambda a, b: (a[0] + b[0], a[1] + b[1]), 1)
        .collect()
    )
    dims = sorted({d for (_, d), _ in merged})
    if len(dims) > 1:
        raise ValueError(f"{vec_col}: vectors of mixed length {dims} cannot be averaged")
    return sorted(
        (
            (b, (s / n).astype(np.float32).tolist(), n)
            for (b, _), (n, s) in merged
        ),
        key=lambda r: (r[0] is not None, r[0]),
    )


def _block_rows(n: int) -> int:
    """Rows per block so that a block of ``n`` float64 values per row
    stays at ~32 MB (4M values) whatever the sizes."""
    return max(1, (1 << 22) // max(n, 1))


def _round6_half_away(x):
    """Round to 6 decimals HALF-AWAY-FROM-ZERO: matches DuckDB's
    round(), and approximates Spark's F.round — Spark rounds the
    double's SHORTEST-DECIMAL representation (BigDecimal HALF_UP)
    while this rounds the binary value via floor(|x|*1e6+0.5), so the
    two can disagree for values whose binary form sits just below a .5
    decimal boundary (e.g. 0.1234565). Good enough for the numpy gate
    paths whose oracles are DuckDB; Column-side F.round stays the rule
    where exact Spark parity is needed. numpy's np.round is
    half-to-even and would diverge from the SQL oracles exactly on the
    .5 boundaries a low-entropy corpus can hit."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _vector_matrices(*sets):
    """float64 matrices of vector sets that share one dimension, the
    length of the first non-NULL vector. A set is a pandas Series or a
    numpy array of vectors, or already a 2-D matrix. A NULL vector
    becomes a zero row, whose zero norm makes every cosine it enters
    NaN; a vector of another length raises ``ValueError``."""
    import numpy as np

    cols = [s.to_numpy() if hasattr(s, "to_numpy") else s for s in sets]
    vecs = (v for c in cols for v in (c[:1] if c.ndim == 2 else c) if v is not None)
    dim = len(next(vecs, ()))
    out = []
    for c in cols:
        if c.ndim == 2:
            out.append(c.astype(np.float64, copy=False))
            continue
        ok = np.fromiter((v is not None for v in c), dtype=bool, count=len(c))
        X = np.zeros((len(c), dim))
        if ok.any():
            X[ok] = np.stack(c[ok])
        out.append(X)
    return out


def cosine_blocks(a, b=None):
    """THE near-pair cosine kernel: float64 cosines of every vector of
    ``a`` against every vector of ``b`` (``b=None``: ``a`` against
    itself, stacked once), yielded as ``(s, block)`` for rows ``s ..
    s + len(block)`` of ``a``. Block rows follow ``_block_rows(len(b))``,
    so a block holds ~32 MB whatever the set sizes, and the memory bound
    is the vectors themselves. The all-pairs SemDeDup and LSH verify
    (``_near_pairs_fn``), the ingest gate's best-peer reduction
    (``best_peers``) and probe, and the MMR re-rank all score through
    it. NULL, NaN-bearing and zero-norm vectors give NaN cosines, and a
    NaN fails every ``>=`` threshold compare."""
    import numpy as np

    if b is None:
        (A,) = _vector_matrices(a)
        B = A
    else:
        A, B = _vector_matrices(a, b)
    na = np.sqrt((A * A).sum(axis=1))
    nb = na if b is None else np.sqrt((B * B).sum(axis=1))
    bs = _block_rows(len(B))
    for s in range(0, len(A), bs):
        with np.errstate(divide="ignore", invalid="ignore"):
            block = (A[s : s + bs] @ B.T) / (na[s : s + bs, None] * nb[None, :])
        yield s, block


def best_peers(qids, qvecs, threshold: float, pids=None, pvecs=None):
    """The ingest gate's best-peer reduction: for every query vector,
    its best peer by cosine rounded with ``_round6_half_away``, ties to
    the smallest peer id. Returns ``(query_ids, peer_ids, cos)`` arrays
    for the queries whose best clears ``threshold``. With no peers
    given, the queries are their own peers and only a strictly smaller
    peer id is admissible (the within-batch rule); otherwise any peer
    with another id is. NaN cosines are never best."""
    import numpy as np

    own = pids is None
    if own:
        pids, (P,) = qids, _vector_matrices(qvecs)
    else:
        Q, P = _vector_matrices(qvecs, pvecs)
    # peers sorted by id: argmax then takes the SMALLEST id among
    # equal-max cosines, the (cos desc, id asc) rule
    order = np.argsort(pids, kind="stable")
    pids, P = pids[order], P[order]
    if own:
        qids, Q = pids, P
    out_q, out_p, out_c = [qids[:0]], [pids[:0]], [np.empty(0)]
    for s, cos in cosine_blocks(Q, None if own else P):
        q = qids[s : s + len(cos)]
        ok = pids[None, :] < q[:, None] if own else pids[None, :] != q[:, None]
        cos = _round6_half_away(cos)
        cos = np.where(ok & ~np.isnan(cos), cos, -np.inf)
        j = np.argmax(cos, axis=1)
        best = cos[np.arange(len(j)), j]
        keep = best >= threshold
        out_q.append(q[keep])
        out_p.append(pids[j[keep]])
        out_c.append(best[keep])
    return np.concatenate(out_q), np.concatenate(out_p), np.concatenate(out_c)


def nearest_centroids(X, C, n: int = 1):
    """Indices of the ``n`` nearest rows of the centroid matrix ``C``
    (k x dim) for every row of ``X`` (N x dim), by squared Euclidean
    distance — THE nearest-centroid kernel: k-means assignment (coarse
    and per-subspace), PQ encoding and the map-side bucket assignment
    all call it. ``n == 1`` returns shape (N,), larger ``n`` (N, n) in
    nearest-first order. Ties go to the lowest centroid index
    (``argmin`` returns the first minimum; the stable argsort keeps
    index order among equal distances — the two agree on finite input).

    Row-chunked so the in-flight chunk x k x dim difference tensor
    stays at ~32 MB at any N/k/dim; the distance of each (row,
    centroid) pair does not depend on the chunking, so results are
    identical to the one-shot N x k x dim form."""
    import numpy as np

    k, dim = C.shape
    chunk = _block_rows(k * dim)
    out = np.empty((len(X), n) if n > 1 else len(X), dtype=np.intp)
    for s in range(0, len(X), chunk):
        Xc = X[s : s + chunk]
        d2 = ((Xc[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        out[s : s + chunk] = (
            d2.argmin(1) if n == 1
            else np.argsort(d2, axis=1, kind="stable")[:, :n]
        )
    return out


def _numpy_centroid_assign(
    corpus: DataFrame,
    centroids,
    vec_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """Corpus + ``ivf_bucket`` via MAP-ONLY nearest-centroid assignment
    (one row per probed bucket when ``nprobe > 1``): a ``mapInPandas``
    pass runs ``nearest_centroids`` on each Arrow batch against the
    k x dim centroid matrix (ties by bucket id — centroids are stored in
    bucket order) and emits the ``nprobe`` nearest. No shuffle, no
    window, no N x k intermediate ever leaves the batch; the centroid
    matrix rides the UDF closure (metadata-sized).

    Vectorized numpy ON PURPOSE, measured against two Column-algebra
    shapes at 50k rows / k=100 / dim=64 (SCALE.md "Round-9"): a
    ``transform``+``zip_with`` scored array is CodegenFallback —
    interpreted ~100us per (row, centroid) = ~10ms per ROW at k=100 —
    and an unrolled per-term literal expression moves the cost to PLAN
    construction and analysis (~6k py4j calls + a 13k-node tree:
    45s before the first task launches). The numpy matmul-style scan
    is ~us per row and scales with rows, not rows x k."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)
    nprobe = min(int(nprobe), len(C))
    out_schema = T.StructType(
        list(corpus.schema.fields)
        + [T.StructField("ivf_bucket", T.IntegerType(), False)]
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            top = nearest_centroids(X, C, nprobe)
            out = pdf.iloc[np.repeat(np.arange(len(pdf)), nprobe)].reset_index(
                drop=True
            )
            out["ivf_bucket"] = top.reshape(-1).astype("int32")
            yield out

    return corpus.mapInPandas(assign, out_schema)


def numpy_kmeans_buckets(
    corpus: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample: int = 4096,
    iters: int = 10,
    nprobe: int = 1,
):
    """THE coarse k-means: train an IVF quantizer of ``k`` centroids and
    assign every vector its bucket(s). Returns ``(assigned, C, X)``:
    ``assigned`` is the corpus plus an ``ivf_bucket`` int column, ``C``
    the fitted k x dim float64 centroids (index builds store them as
    the quantizer, the FAISS convention) and ``X`` the collected
    sample, float64 in ``xxhash64(id, seed), id`` order.

    The fit runs in numpy on the driver, over the ``fit_sample`` rows of
    ``pq._driver_sample`` — the sampler PQ/OPQ codebook training uses,
    so a codebook sample of the same (corpus, seed) is a PREFIX of
    ``X`` and index builds derive it driver-side. FAISS trains coarse
    quantizers the same way, in-core on a sample. Sample rows with a
    NULL vector or a NaN element are left out of the fit (a NaN row
    would poison its centroid and with it every assignment);
    ``ValueError`` when none remain. Seeding is k-means++ (Arthur and
    Vassilvitskii, SODA 2007): each next centroid is drawn by D^2
    sampling from the seeded rng. Lloyd then runs ``iters`` steps of
    ``pq._fit_books`` with a single subspace, warm-started from the
    seeds.

    Driver memory is ``fit_sample x dim x 8`` bytes (65536 x 64-dim =
    33 MB) plus one <= 32 MB ``nearest_centroids`` chunk per Lloyd
    step. There is no distributed fit to fall back on: at high dims
    lower ``fit_sample`` (at dim 4096, ~8192).

    Assignment is map-only (``_numpy_centroid_assign``). ``nprobe > 1``
    emits one row per (vector, probed bucket), its ``nprobe`` nearest
    centroids nearest first — the multi-probe assignment that recovers
    cluster-BOUNDARY pairs for ``semantic_dedup``: a near-dup pair split
    across adjacent clusters still meets in one of them."""
    import numpy as np

    from modelardb_rs_spark.operators.pq import _driver_sample, _fit_books

    X = _driver_sample(corpus, id_col, vec_col, int(fit_sample), seed)
    fit = X[~np.isnan(X).any(axis=1)] if X.shape[1] else X[:0]
    if not len(fit):
        raise ValueError(
            "numpy_kmeans_buckets: the corpus is empty or every sampled vector "
            "is NULL or holds a NaN, nothing to fit"
        )
    rng = np.random.default_rng(seed)
    C = _fit_books(fit, 1, k, iters, rng, [_kmeanspp(fit, k, rng)])[0]
    return _numpy_centroid_assign(corpus, C, vec_col, nprobe), C, X


def _kmeanspp(X, k: int, rng):
    """min(k, len(X)) k-means++ seeds from the rows of ``X``: the first
    uniformly, each next one with probability proportional to its
    squared distance to the nearest seed so far (uniformly once every
    row is a seed's duplicate)."""
    import numpy as np

    C = [X[rng.integers(len(X))]]
    d2 = ((X - C[0]) ** 2).sum(axis=1)
    for _ in range(min(k, len(X)) - 1):
        cum = np.cumsum(d2)
        if cum[-1] > 0:
            i = int(np.searchsorted(cum, rng.random() * cum[-1], side="right"))
        else:
            i = int(rng.integers(len(X)))
        C.append(X[min(i, len(X) - 1)])
        d2 = np.minimum(d2, ((X - C[-1]) ** 2).sum(axis=1))
    return np.array(C)


def _signature_keys(
    df: DataFrame,
    tables: int,
    planes: int,
    dim: int,
    seed: int,
    id_col: str,
    vec_col: str,
    out_id: str,
    keep_vec: bool = False,
) -> DataFrame:
    """(out_id, __t__, __sig__) — one sign-LSH signature row per (row,
    hash table), from fixed pseudo-random hyperplanes (deterministic in
    ``seed``; same generator stream as the Column-literal builder this
    replaced, so bucket assignments are unchanged up to sign-at-zero
    knife edges). Computed as ONE numpy matmul per Arrow batch inside
    ``mapInPandas``: the previous plan-literal form built tables x
    planes x dim ``lit`` nodes (4,096 py4j calls at the defaults — the
    measured dominant cost of the LSH entries at fixture scale) and
    evaluated each plane's dot interpreted per row. The hyperplane
    matrix rides the UDF closure; map-only, no shuffle. The id column
    passes through with its INPUT type (long, string, ...) — the
    output schema is derived from the input field, not hardcoded.
    ``keep_vec`` also carries the vector column on every row. A row
    with a NULL vector gets no signature, so it is nobody's candidate."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(out_id, id_field.dataType, id_field.nullable),
            T.StructField("__t__", T.IntegerType(), False),
            T.StructField("__sig__", T.IntegerType(), False),
        ]
        + ([df.schema[vec_col]] if keep_vec else [])
    )
    rng = np.random.default_rng(seed)
    H2 = rng.normal(0.0, 1.0, (tables, planes, dim)).reshape(tables * planes, dim)
    weights = (1 << np.arange(planes)).astype(np.int64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            bits = (V @ H2.T) >= 0
            sigs = (
                (bits.reshape(len(V), tables, planes) * weights[None, None, :])
                .sum(-1)
                .astype("int32")
            )
            out = pd.DataFrame(
                {
                    out_id: np.repeat(pdf[id_col].to_numpy(), tables),
                    "__t__": np.tile(
                        np.arange(tables, dtype="int32"), len(V)
                    ),
                    "__sig__": sigs.reshape(-1),
                }
            )
            if keep_vec:
                out[vec_col] = np.repeat(pdf[vec_col].to_numpy(), tables)
            yield out

    return (
        df.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .mapInPandas(fn, out_schema)
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    tables: int = 8,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos) over one
    corpus — the embedding leg of the dedup family.

    Corpus×corpus at scale, so no broadcast anywhere: rows are bucketed
    by (hash table, sign signature) and candidates are pairs sharing a
    bucket in ANY of the ``tables`` tables. Each bucket is verified
    whole, like a SemDeDup cluster: the signature rows carry their
    vectors, one exchange groups them by (table, signature), and the
    all-pairs body ``_near_pairs_fn`` scores the bucket with
    ``cosine_blocks`` — candidate pairs never exist as rows, only
    survivors do, and a pair meeting in several tables is reduced to
    one row after the verify (the ``nprobe > 1`` shape of
    ``semantic_near_pairs``). Precision is 1 by construction; recall is
    the standard multi-table sign-LSH guarantee (near-identical vectors
    share all sign bits). Arrow transfer is ``tables`` x corpus. A
    pathologically dense bucket (m rows) serializes its m² scores into
    one task, in ~32 MB blocks, with its m vectors in that task's
    memory; ``planes`` is the blocking-granularity lever.

    ``cos`` is the 6-digit Spark ``F.round`` of the cosine, and the
    threshold applies to that rounded value: the kernel keeps raw
    cosines >= ``threshold`` - 1e-6 and the rounded compare decides.
    Zero-norm and NULL vectors are explicitly EXCLUDED: a NaN cosine
    fails every compare (Spark and DuckDB both treat NaN as greater
    than any double, so a bare ``cos >= threshold`` replay would pair a
    degenerate vector with every bucket peer). All near-pair paths
    share this policy; a SQL oracle replaying the threshold must add
    the NaN guard."""
    keys = _signature_keys(
        corpus, tables, planes, dim, seed, id_col, vec_col, "__id__", keep_vec=True
    )
    return (
        _near_pairs(keys, ["__t__", "__sig__"], float(threshold) - 1e-6, vec_col)
        .withColumn("cos", F.round(F.col("cos"), 6))
        .where(~F.isnan(F.col("cos")) & (F.col("cos") >= threshold))
        .groupBy("id_a", "id_b")
        .agg(F.max("cos").alias("cos"))
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 4,
    tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane (sign) LSH.

    ``tables`` independent hash tables, each a ``planes``-bit signature
    (sign of the dot product with fixed pseudo-random hyperplanes,
    generated deterministically from ``seed`` and shipped as plan
    literals). Candidates are corpus rows sharing the query's bucket in
    ANY table — the standard recall lever: a single table's bucket holds
    only near-identical sign patterns, the union catches neighbors that
    disagree on a few planes. Every join is a keyed equi-join on
    (table, signature); the all-pairs product never materializes, and
    candidate vectors are fetched by id after dedup so the ``tables``-way
    explode carries ids only. Complements ``ivf_topk`` when no cluster
    structure (bucket column / trained centroids) exists.
    """
    q_keys = _signature_keys(
        queries, tables, planes, dim, seed, id_col, vec_col, "query_id"
    )
    c_keys = _signature_keys(
        corpus, tables, planes, dim, seed, id_col, vec_col, "neighbor_id"
    )
    cands = (
        c_keys.join(F.broadcast(q_keys), ["__t__", "__sig__"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv__")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv__")
    )
    cos_udf = cosine_batch_udf()
    scored = (
        cands.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cos", F.round(cos_udf(F.col("__qv__"), F.col("__cv__")), 6))
    )
    return ranked_topk(scored, k)


def cosine_threshold_pairs(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (a, b) pairs with cosine >= threshold, a < b. Broadcast the
    smaller side; for corpus-x-corpus near-dup at scale, pre-block with
    LSH/IVF buckets and feed the blocked pairs here. Zero-norm vectors
    (NaN cosine) never pair — the shared policy of every near-pair
    path (see ``embedding_near_dup_pairs``). Scoring is the
    Arrow-batched numpy cosine: this is a per-candidate-pair stream,
    the canonical-form rule's slow-path-never shape (module
    docstring)."""
    a = left.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__av__"))
    b = right.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__bv__"))
    cos_udf = cosine_batch_udf()
    return (
        b.crossJoin(F.broadcast(a))
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cos_udf(F.col("__av__"), F.col("__bv__")), 6))
        .where(~F.isnan(F.col("cos")) & (F.col("cos") >= threshold))
        .select("id_a", "id_b", "cos")
    )


def _near_pairs_fn(threshold: float, vec_col: str, chunked: bool = False):
    """``applyInPandas`` body of every all-pairs near-pair verify: one
    ``(id_a, id_b, cos)`` row, ``id_a < id_b``, per pair of the group
    whose raw cosine (``cosine_blocks``) is >= ``threshold``. A group is
    a SemDeDup bucket, an LSH (table, signature) bucket, or —
    ``chunked`` — one (bucket, chunk_i, chunk_j) task of the hot-bucket
    chunk plan (``_chunk_plan``), whose rows carry their chunk in
    ``__c__`` and whose last two key values are chunk_i and chunk_j.

    A whole group, or a diagonal task (chunk_i == chunk_j), is the
    triangle case: every pair with a strictly larger second id, so
    duplicate ids never pair and each unordered pair is emitted once.
    An off-diagonal task is the cross case: chunk_i rows against
    chunk_j rows with equal ids masked, so even a partitioner that
    splits a duplicated id across chunks emits no (x, x) pair. Every
    unordered pair of a bucket lands in exactly one task, so the
    chunked union is the one-task output, with per-task memory bounded
    by two chunks. NaN cosines (NULL, NaN-bearing or zero-norm vectors)
    fail the numpy ``>=`` compare — the never-pair-NaN policy every
    near-pair path shares; a SQL oracle replaying the threshold needs
    an explicit NaN guard."""
    import numpy as np
    import pandas as pd

    def fn(key, pdf):
        ids, vecs = pdf["__id__"].to_numpy(), pdf[vec_col]
        cross = chunked and key[-2] != key[-1]
        if cross:
            c = pdf["__c__"].to_numpy()
            a, b = c == key[-2], c == key[-1]
            ids_a, ids_b = ids[a], ids[b]
            blocks = cosine_blocks(vecs[a], vecs[b])
        else:
            ids_a = ids_b = ids
            blocks = cosine_blocks(vecs)
        out_a, out_b, out_c = [ids[:0]], [ids[:0]], [np.empty(0)]
        for s, cos in blocks:
            ii, jj = np.nonzero(cos >= threshold)
            ia, ib = ids_a[s + ii], ids_b[jj]
            keep = ia != ib if cross else ib > ia
            out_a.append(np.minimum(ia[keep], ib[keep]))
            out_b.append(np.maximum(ia[keep], ib[keep]))
            out_c.append(cos[ii[keep], jj[keep]])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    return fn


def _near_pairs(
    rows: DataFrame, keys: list, threshold: float, vec_col: str, chunked: bool = False
) -> DataFrame:
    """``rows`` (``__id__``, ``vec_col``, the grouping ``keys``) grouped
    by ``keys`` and verified by ``_near_pairs_fn``: (id_a, id_b, cos)."""
    from pyspark.sql import types as T

    id_type = rows.schema["__id__"].dataType
    schema = T.StructType(
        [
            T.StructField("id_a", id_type, True),
            T.StructField("id_b", id_type, True),
            T.StructField("cos", T.DoubleType(), True),
        ]
    )
    return rows.groupBy(*keys).applyInPandas(
        _near_pairs_fn(float(threshold), vec_col, chunked), schema
    )


def _chunk_plan(
    sizes,
    max_bucket_rows: int | str | None,
    auto_chunk_floor: int,
    auto_chunk_median_mult: int,
):
    """The hot-bucket chunk plan shared by ``semantic_near_pairs`` and
    ``ann_index.semantic_dedup_check``. ``sizes`` maps bucket -> rows
    (index metadata), or is the DataFrame of ``ivf_bucket`` rows to
    chunk: then it is persisted MEMORY_AND_DISK, so that one count
    aggregate and the caller's verify share one map (the caller
    unpersists it), and the sizes are collected from it.

    The cap is ``max_bucket_rows``: None (every bucket one chunk), a
    positive int, or ``"auto"`` — the median-anchored rule shared with
    the LSH and SimHash bucket caps (``dedup.lsh_candidate_pairs``),
    max(1, ``auto_chunk_floor``, ``auto_chunk_median_mult`` x the median
    bucket size): buckets near the median stay one chunk, only hot ones
    split, and the floor keeps tiny corpora from paying chunk-task
    overhead. Anything else raises ``ValueError`` before any job runs.

    Returns ``chunk(df, id_col=None, partners=False)``: ``df`` (with an
    ``ivf_bucket`` column) plus ``__c__``, the row's chunk
    ``pmod(xxhash64(id_col), n_chunks)``, and/or — ``partners`` — one
    row per chunk of its bucket in ``__o__``. A bucket's chunk count is
    looked up in a literal map that holds only the buckets of more than
    one chunk (empty when none is hot), so the plan needs no join and
    runs no broadcast job."""
    if isinstance(max_bucket_rows, str):
        if max_bucket_rows != "auto":
            raise ValueError(
                f"max_bucket_rows must be an int, None, or 'auto', got {max_bucket_rows!r}"
            )
    elif max_bucket_rows is not None and max_bucket_rows <= 0:
        raise ValueError(f"max_bucket_rows must be positive, got {max_bucket_rows}")
    if isinstance(sizes, DataFrame):
        from pyspark import StorageLevel

        per_bucket = sizes.persist(StorageLevel.MEMORY_AND_DISK).groupBy("ivf_bucket").count()
        sizes = {int(r[0]): int(r[1]) for r in per_bucket.collect()}
    cap = max_bucket_rows
    if cap == "auto":
        counts = sorted(sizes.values())
        med = counts[len(counts) // 2] if counts else 0
        cap = max(1, int(auto_chunk_floor), int(auto_chunk_median_mult) * med)
    n_chunks = [(b, -(-n // int(cap))) for b, n in sorted(sizes.items())] if cap else []
    hot = ", ".join(f"{b}, {nc}" for b, nc in n_chunks if nc > 1)
    nc = F.lit(1)
    if hot:
        lookup = F.try_element_at(F.expr(f"map({hot})"), F.col("ivf_bucket").cast("int"))
        nc = F.coalesce(lookup, nc)

    def chunk(df: DataFrame, id_col: str | None = None, partners: bool = False):
        if id_col is not None:
            df = df.withColumn("__c__", F.pmod(F.xxhash64(F.col(id_col)), nc).cast("int"))
        if partners:
            df = df.withColumn("__o__", F.explode(F.sequence(F.lit(0), nc - 1)))
        return df

    return chunk


def semantic_near_pairs(
    corpus: DataFrame,
    threshold: float = 0.97,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample: int = 65536,
    assignments: DataFrame | None = None,
    nprobe: int = 1,
    max_bucket_rows: int | str | None = None,
    auto_chunk_floor: int = 4096,
    auto_chunk_median_mult: int = 4,
) -> DataFrame:
    """The verified near-duplicate PAIRS of the SemDeDup pipeline:
    cluster (or reuse ``assignments``), score every pair within each
    cluster, and keep pairs with exact cosine >= ``threshold``. This is
    ``semantic_dedup``'s candidate+verify core, exposed so recall
    audits and custom survivor policies can consume the pairs directly.

    The clustering is ``numpy_kmeans_buckets`` on a ``fit_sample``
    sample. ``nprobe > 1`` assigns each vector to its ``nprobe``
    nearest clusters: pairs straddling a cluster BOUNDARY — the
    paper's documented recall trade — get a second chance to meet, at
    ~``nprobe``^2 x candidate cost (bucket membership multiplies by
    ``nprobe``; within-bucket pairs are quadratic in it); the measured
    end-to-end wall at nprobe=2 is ~1.2x the nprobe=1 line (SCALE.md
    "Round-9"). NaN-bearing and NULL vectors are excluded from
    clustering and pairing: their cosine is NaN, so they can never
    pair (with ``assignments`` they reach the verify, which scores
    them NaN).

    Plan shape (round-9, chosen after MEASURING three designs at 50k
    vectors / 12.5M candidates, SCALE.md "Round-9"): the corpus
    exchanges ONCE on the bucket key and each bucket's quadratic
    verify runs as a CHUNKED NUMPY MATMUL inside ``applyInPandas``
    (``_near_pairs_fn`` over ``cosine_blocks``) — only survivors (true
    near-dups) ever become rows. The alternatives
    both materialize the candidate pairs as JVM rows: (a) round-8's
    ids-only self-join re-shuffled the candidate volume three times
    (distinct + two re-attach joins) and paid ~100us/pair for the
    interpreted ``zip_with``/``aggregate`` cosine (55s); (b) an
    in-stage sort-merge-join condition with the codegen-unrolled
    ``dot_fixed`` cosine still paid per-pair row iteration (167s —
    WORSE: pair generation itself dominates). BLAS does the 12.5M
    dot products in under a second; the whole verify including the
    exchange measured ~3s. Arrow transfer is corpus x ``nprobe``
    volume, never candidates. By default a hot bucket serializes into
    one worker and must fit its vectors in that worker's memory
    (m x dim x 8 bytes — 10M x 64-dim = 5 GB; the matmul itself is
    chunked to a fixed ~32 MB block, so memory is the VECTORS, not the
    m^2 pair matrix); ``n_clusters`` is the first lever.
    ``max_bucket_rows=M`` removes the ceiling EXACTLY: buckets larger
    than M split into hash chunks of ~M rows (``_chunk_plan``) and the
    verify runs one task per (chunk_i, chunk_j) pair — per-task memory
    is TWO chunks,
    the quadratic work spreads across the cluster, and every unordered
    pair lands in exactly one task so the output is bit-identical to
    the single-task path (tested; measured on a 60k-vector single hot
    bucket at local[32]: 65.8 s single-task -> 12.4 s at M=8000 ->
    7.5 s at M=3000, identical pairs — SCALE.md "Round-10"). The cost
    is Arrow re-transfer: each
    hot-bucket row ships to its n_chunks tasks, i.e. transfer grows by
    ~m/M for that bucket — the unavoidable price of distributing m^2
    work; small buckets (<= M) keep the one-task path unchanged.
    ``max_bucket_rows="auto"`` sizes M FROM THE DATA with the same
    median-anchored rule as the LSH/SimHash caps: M = max(1,
    ``auto_chunk_floor``, ``auto_chunk_median_mult`` x the median
    bucket size) — typical buckets (near the median under a sane k)
    stay one-task, only genuine hot buckets chunk, and the floor stops
    tiny corpora from paying chunk-task overhead. Any chunked run
    (int or "auto") is EAGER: the assignment is persisted across the
    size pass and the verify (one corpus map instead of two), then the
    survivor pairs are checkpoint-materialized and the corpus-sized
    cache released before returning. ``nprobe > 1`` dedups pairs that
    co-occur in several probed buckets with a distinct over SURVIVORS,
    not candidates."""
    if assignments is not None:
        assigned = corpus.select(id_col, vec_col).join(
            assignments.select(id_col, "ivf_bucket"), id_col
        )
    else:
        assigned = numpy_kmeans_buckets(
            corpus.where(~F.exists(F.col(vec_col), F.isnan)).select(id_col, vec_col),
            k=n_clusters,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
            fit_sample=fit_sample,
            nprobe=nprobe,
        )[0]
    rows = assigned.select(
        "ivf_bucket", F.col(id_col).alias("__id__"), F.col(vec_col)
    )
    if max_bucket_rows is None:
        pairs = _near_pairs(rows, ["ivf_bucket"], threshold, vec_col).select(
            "id_a", "id_b"
        )
        if nprobe > 1:
            # a pair can co-occur in several probed buckets; the distinct
            # runs over SURVIVORS (true near-dups), not the candidates
            pairs = pairs.distinct()
        return pairs
    from modelardb_rs_spark.operators.dedup import _truncate_lineage

    # the plan persists the assignment for its size pass, so the
    # dominant map cost (the numpy assignment over the whole corpus)
    # runs once for both the sizes and the verify
    chunk = _chunk_plan(
        rows,
        max_bucket_rows,
        auto_chunk_floor,
        auto_chunk_median_mult,
    )
    # each row joins every (chunk_i, chunk_j) task it belongs to: a row
    # in chunk c meets partner chunk o in task (min(c,o), max(c,o)),
    # each exactly once, so no post-dedup is needed
    tasks = (
        chunk(rows, "__id__", partners=True)
        .withColumn("__ti__", F.least("__c__", "__o__"))
        .withColumn("__tj__", F.greatest("__c__", "__o__"))
    )
    pairs = _near_pairs(
        tasks, ["ivf_bucket", "__ti__", "__tj__"], threshold, vec_col, chunked=True
    ).select("id_a", "id_b")
    if nprobe > 1:
        pairs = pairs.distinct()
    # materialize the survivors while the assignment cache is hot, then
    # release the corpus-sized cache eagerly (a long-lived session must
    # not accumulate MEMORY_AND_DISK blocks — the collapse_exact policy).
    # Survivors are the true near-dup pairs: bounded by the duplicate
    # mass, narrow (two ids), and consumed downstream anyway.
    pairs = _truncate_lineage(pairs)
    rows.unpersist()
    return pairs


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.97,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample: int = 65536,
    assignments: DataFrame | None = None,
    collapse_exact: bool = False,
    nprobe: int = 1,
    max_bucket_rows: int | str | None = None,
    auto_chunk_floor: int = 4096,
    auto_chunk_median_mult: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means cluster the embeddings, find
    cosine >= ``threshold`` pairs WITHIN each cluster only, group them
    into connected components, and keep one representative (the minimum
    id) per component. Returns the corpus minus dropped semantic
    duplicates (schema unchanged).

    This is the embedding-space sibling of MinHash corpus dedup: where
    MinHash catches lexical near-copies, semantic dedup drops documents
    that SAY the same thing — the paper's result is that pruning these
    speeds convergence at equal quality.

    Scale shape (the paper's own design point): clustering caps the
    pairwise work at sum(n_b^2) ~ N^2/k instead of N^2 — pick
    ``n_clusters`` ~ sqrt(N)/c to hold per-cluster membership near
    constant. The k-means fit (``numpy_kmeans_buckets``) runs on a
    bounded seeded hash-ordered sample (``fit_sample``, the
    ``pq._driver_sample`` contract), and ``assignments`` skips the
    fit entirely by reusing an EXISTING clustering as a DataFrame of
    (id_col, ivf_bucket), e.g. a persisted ANN index's
    ``<name>__vectors`` table (``ann_index.build_ivf_index``), so one
    clustering serves both search and dedup. The within-cluster
    quadratic verify exchanges the corpus ONCE on the bucket key and
    runs each bucket as a chunked numpy matmul (``applyInPandas``) —
    candidate pairs never exist as rows, only survivors do (see
    ``semantic_near_pairs`` for the measured comparison against the
    two join-based shapes it replaced).
    Components reuse ``dedup.duplicate_clusters`` (keyed label
    propagation, no driver data loop). The documented trade is recall
    at cluster BOUNDARIES: a cross-cluster pair above threshold is not
    examined — the paper accepts this (duplicates land in the same
    cluster with high probability because they are near each other in
    embedding space). Measured fit/pairwise scaling: SCALE.md
    "Round-7".

    ``collapse_exact`` pre-collapses IDENTICAL vectors (one cheap
    groupBy on the vector value, keeping the minimum id per group)
    before clustering, so the quadratic within-cluster work scales
    with DISTINCT vectors instead of corpus rows. An identical family
    of s rows lands in one cluster and alone contributes s*(s-1)/2
    verified pairs — on real corpora (boilerplate, re-crawls) that
    family is the dominant pair mass, and every one of its members is
    a semantic duplicate BY DEFINITION (cosine exactly 1 >= any sane
    threshold), so collapsing first is pure work removal with an
    unchanged result: non-representative members drop with their
    representative's verdict. Default off to keep the historical
    plan.

    Two edges where "unchanged" needs care: (a) ``threshold > 1`` means
    NO pair can qualify, so the collapse is skipped outright rather
    than dropping exact copies the threshold would keep; (b) vectors
    containing NaN are excluded from the collapse — their cosine is
    NaN, which fails every threshold, so the uncollapsed path never
    drops them and the collapsed path must not either. At exactly
    ``threshold == 1.0`` the collapse may drop identical copies whose
    FLOAT cosine rounds just below 1; that is treated as the intended
    reading (mathematically the cosine of byte-identical vectors is 1)."""
    from modelardb_rs_spark.operators.dedup import duplicate_clusters

    if collapse_exact and threshold > 1.0:
        collapse_exact = False
    # NaN-bearing vectors can never be duplicates (their cosine is NaN,
    # failing every threshold): semantic_near_pairs routes them around
    # the clustering, so they are always kept.
    has_nan = F.exists(F.col(vec_col), F.isnan)
    work = corpus
    if collapse_exact:
        # ONE scan, one shuffle: non-NaN rows group by vector value;
        # NaN-bearing rows get their own id as a secondary key (Spark
        # groups NaN==NaN, so without it identical NaN vectors would
        # collapse — and their cosine is NaN, so the uncollapsed path
        # keeps them all). Each NaN row is thus its own representative.
        work = (
            corpus.groupBy(
                F.col(vec_col),
                F.when(has_nan, F.col(id_col)).alias("__nan_self__"),
            )
            .agg(F.min(F.col(id_col)).alias(id_col))
            .select(id_col, vec_col)
        )
        # The collapsed frame feeds FIVE independent subtrees (the k-means
        # fit action, both sides of the candidate self-join, the vector
        # re-attach, the final kept semi-join): persist it so the
        # collapse shuffle runs once, not per branch. The fit's sample
        # collect — an eager action — populates the cache before the lazy
        # branches need it. At 100 TB this is the collapsed (id,
        # vector) projection, which is the whole point of collapsing.
        from pyspark import StorageLevel

        work = work.persist(StorageLevel.MEMORY_AND_DISK)
    pairs = semantic_near_pairs(
        work,
        threshold=threshold,
        n_clusters=n_clusters,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        fit_sample=fit_sample,
        assignments=assignments,
        nprobe=nprobe,
        max_bucket_rows=max_bucket_rows,
        auto_chunk_floor=auto_chunk_floor,
        auto_chunk_median_mult=auto_chunk_median_mult,
    )
    drop = (
        duplicate_clusters(pairs)
        .where(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    if collapse_exact:
        # kept = representatives that survived; every non-representative
        # is an exact duplicate of its representative and drops with it.
        # Materialize kept NOW (ids only — narrow at any scale) with a
        # truncated lineage, then release the cached collapsed frame:
        # a long-lived session calling this repeatedly must not
        # accumulate MEMORY_AND_DISK blocks until shutdown
        # (CacheManager entries are never GC-reclaimed). Same policy as
        # duplicate_clusters: reliable checkpoint files when the
        # session has a checkpoint dir (the Engine default — no memory
        # blocks at all), eager localCheckpoint otherwise. This makes
        # the collapse path eager; the survivor-id job runs exactly
        # once either way.
        from modelardb_rs_spark.operators.dedup import _truncate_lineage

        kept = _truncate_lineage(
            work.join(drop, id_col, "left_anti").select(id_col)
        )
        work.unpersist()
        return corpus.join(kept, id_col, "semi")
    return corpus.join(drop, id_col, "left_anti")
