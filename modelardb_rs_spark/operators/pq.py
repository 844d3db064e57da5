"""Product quantization (PQ) for embedding similarity at 100 TB.

The public PQ construction (Jégou, Douze, Schmid: "Product Quantization
for Nearest Neighbor Search", TPAMI 2011 — the FAISS `IndexPQ` shape):
split each D-dim vector into ``m`` contiguous subvectors, learn a
``ks``-centroid codebook per subspace, and store each vector as ``m``
small codes. With m=8, ks=16 a 64-dim float32 embedding compresses
256 bytes → 8 codes (32×), and query scoring never touches the original
vectors: a query precomputes an m×ks lookup table of subspace inner
products once, then every corpus vector scores with ``m`` table lookups
(asymmetric distance computation, ADC).

Spark-first mapping:
- **training** runs seeded numpy Lloyd iterations on a deterministic
  driver sample (seeded id-hash order) — at billions of vectors
  codebooks are always trained on a sample; the loop is over
  m×ks×iters tiny centroids, never the corpus,
- **encoding** is map-only: one numpy pass per Arrow batch, the code
  per subspace is ``similarity.nearest_centroids`` (the same chunked
  kernel the training loop and the IVF assignment use),
- **scoring** is ONE numpy pass over the codes (``adc_topk``, shared by
  the flat PQ, the IVF-PQ and, without codes, the exact flat-IVF
  probes; ``probe_buckets`` picks the IVF buckets on the driver): the
  per-query lookup tables ride the ``mapInArrow`` closure, each
  (query, vector) pair costs ``m`` table lookups, each task forwards
  only its shortlist survivors, and the same scan feeds the optional
  exact re-rank — without ``rerank`` it reads ONLY the code columns
  (column pruning drops the raw embeddings entirely). JVM windows
  finish the ranks.

Recall < 1 by construction; `sim_pq_topk` validates recall floors
against ``brute_force_topk`` with a fixed seed, mirroring the IVF/LSH
entries.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from modelardb_rs_spark.operators.similarity import nearest_centroids


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 4096,
    iters: int = 10,
    seed: int = 7,
    sample_X: "np.ndarray | None" = None,
) -> list[np.ndarray]:
    """Per-subspace codebooks: ``m`` arrays of shape (ks, D/m).

    Deterministic WITHOUT sample bias: the sample is the ``sample``
    vectors ranked by a seeded hash of their id — same corpus + seed,
    same books — rather than the lowest ids, which correlate with
    content whenever ids are assigned in time/source order (a drifting
    corpus would train books on its oldest slice only). Ties on the
    hash break by id so duplicate hash values stay deterministic.

    ``sample_X`` supplies the training matrix directly (float64, rows
    in the ``_driver_sample`` hash order) and skips the Spark TopK
    collect — callers that already hold the sample (an IVF-PQ build's
    coarse-fit sample covers the codebook sample as a prefix) save a
    full corpus pass. Values must be BIT-IDENTICAL to what
    ``_driver_sample`` would return: the fit is exactness-pinned."""
    X = sample_X if sample_X is not None else _driver_sample(
        corpus, id_col, vec_col, sample, seed
    )
    if X.shape[1] % m:
        raise ValueError(f"dimension {X.shape[1]} not divisible by m={m}")
    rng = np.random.default_rng(seed)
    return _fit_books(X, m, ks, iters, rng)


def _driver_sample(
    corpus: DataFrame, id_col: str, vec_col: str, sample: int, seed: int
) -> np.ndarray:
    """The seeded-hash driver sample shared by PQ and OPQ training and
    the coarse k-means fit (``similarity.numpy_kmeans_buckets``) — one
    sampler so every trainer sees the SAME rows for the same (corpus,
    seed): the ``sample`` rows first in ``xxhash64(id, seed), id``
    order, read as one Arrow table. Returns an (n, dim) float64 matrix
    in that order; a NULL vector is a row of NaN, a NULL element is NaN,
    and vectors of mixed length raise ``ValueError``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    vecs = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(int(sample))
        .toArrow()
        .column(1)
        .combine_chunks()
    )
    lens = pc.list_value_length(vecs).to_numpy(zero_copy_only=False)
    dims = np.unique(lens[~np.isnan(lens)])
    if len(dims) > 1:
        raise ValueError(f"{vec_col}: vectors of mixed length {dims.astype(int).tolist()}")
    X = np.full((len(vecs), int(dims[0]) if len(dims) else 0), np.nan)
    live = vecs.is_valid().to_numpy(zero_copy_only=False)
    if live.any() and X.shape[1]:
        X[live] = (
            vecs.filter(pa.array(live)).flatten().to_numpy(zero_copy_only=False)
            .reshape(-1, X.shape[1])
        )
    return X


def _fit_books(
    X: np.ndarray,
    m: int,
    ks: int,
    iters: int,
    rng: np.random.Generator,
    books: list[np.ndarray] | None = None,
) -> list[np.ndarray]:
    """Per-subspace Lloyd fit shared by train_pq_codebooks and
    train_opq's alternation: seeded-choice init when ``books`` is None
    (one rng.choice per subspace, in subspace order — the rng stream
    train_pq_codebooks has always consumed), warm start otherwise;
    empty clusters keep their previous centroid."""
    sub_d = X.shape[1] // m
    out: list[np.ndarray] = []
    for s in range(m):
        Xs = X[:, s * sub_d : (s + 1) * sub_d]
        if books is None:
            C = Xs[rng.choice(len(Xs), size=min(ks, len(Xs)), replace=False)].copy()
        else:
            C = books[s].copy()
        for _ in range(iters):
            assign = nearest_centroids(Xs, C)
            for j in range(len(C)):
                pts = Xs[assign == j]
                if len(pts):
                    C[j] = pts.mean(0)
        out.append(C)
    return out


def _encode_np(X: np.ndarray, books: list[np.ndarray]) -> np.ndarray:
    """(n, m) int32 codes for float64 rows X — the one encode routine,
    shared by the OPQ training loop (driver sample) and the distributed
    ``encode_pq`` batch function: ``nearest_centroids`` per subspace,
    ties to the lowest code."""
    m = len(books)
    sub_d = books[0].shape[1]
    codes = np.empty((len(X), m), dtype=np.int32)
    for s in range(m):
        codes[:, s] = nearest_centroids(X[:, s * sub_d : (s + 1) * sub_d], books[s])
    return codes


def _decode_np(codes: np.ndarray, books: list[np.ndarray]) -> np.ndarray:
    """Reconstruct (n, D) float64 rows from (n, m) codes."""
    return np.concatenate(
        [books[s][codes[:, s]] for s in range(len(books))], axis=1
    )


def train_opq(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 4096,
    opq_iters: int = 10,
    lloyd_iters: int = 4,
    iters: int = 10,
    seed: int = 7,
    sample_X: "np.ndarray | None" = None,
) -> tuple[np.ndarray, list[np.ndarray]]:
    """Optimized product quantization (Ge, He, Ke, Sun: "Optimized
    Product Quantization", CVPR 2013 — the FAISS ``OPQMatrix`` shape):
    learn an ORTHONORMAL rotation ``R`` (D x D) jointly with the
    codebooks so that PQ quantizes ``x @ R`` instead of ``x``, then
    return ``(R, books)`` for ``encode_pq(..., rotate=R)`` /
    ``pq_topk(..., rotate=R)``.

    Why it composes with the whole ADC stack unchanged: R is
    orthonormal, so it preserves inner products and norms —
    ``(x @ R) . (q @ R) = x . q`` — which means ADC scores computed in
    the rotated space approximate the ORIGINAL cosine, and ``pq_norm``
    of a rotated reconstruction estimates the original norm. The win is
    recall per byte: plain PQ quantizes each contiguous subspace
    independently, so variance that straddles subspace boundaries (or
    concentrates in a few correlated dimensions — the usual shape of
    learned embeddings) is quantized badly; the rotation redistributes
    it so every subspace carries quantizable structure. Same code size,
    same query cost, strictly more preparation.

    Training is the paper's non-parametric alternation, run in numpy on
    the same seeded-hash driver sample ``train_pq_codebooks`` uses
    (never the corpus): rotate -> refresh codebooks (warm-started Lloyd)
    -> reconstruct -> orthogonal Procrustes (SVD of ``X^T X_rec``,
    ``R = U V^T``) -> repeat ``opq_iters`` times, then a final
    ``iters``-iteration codebook fit at the converged rotation. All
    numpy ops are deterministic for a fixed seed, so the same corpus
    always yields the same (R, books).

    Scale envelope: the rotation's executor-ship cost is handled —
    below 8 MB it rides the encode closure (64-dim: 32 KB); above,
    ``_ship_rotation`` moves it to a Spark broadcast, as float32 when
    the round-trip is lossless (it is, for every consumer that stores R
    in the ARRAY<FLOAT> pqbooks table), so a 4k-8k-dim rotation costs
    one 64-256 MB per-executor fetch instead of a per-task closure
    copy. The alternation itself is sample x D and never touches the
    corpus.

    ``sample_X`` supplies the training matrix directly (same contract
    as ``train_pq_codebooks``): bit-identical to the ``_driver_sample``
    rows, in hash order — the IVF-PQ build derives the residual sample
    from its coarse-fit sample driver-side and skips this function's
    corpus TopK pass entirely."""
    X = sample_X if sample_X is not None else _driver_sample(
        corpus, id_col, vec_col, sample, seed
    )
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dimension {d} not divisible by m={m}")
    rng = np.random.default_rng(seed)
    # random orthonormal init (QR of a seeded gaussian): identity can
    # sit at a symmetric saddle of the alternation on isotropic data
    Q, _ = np.linalg.qr(rng.normal(size=(d, d)))
    R = Q

    books = None
    for _ in range(opq_iters):
        Y = X @ R
        books = _fit_books(Y, m, ks, lloyd_iters, rng, books)
        recon = _decode_np(_encode_np(Y, books), books)
        # orthogonal Procrustes: argmin_R ||X R - recon||_F over
        # orthonormal R has the closed form U V^T from X^T recon
        U, _, Vt = np.linalg.svd(X.T @ recon)
        R = U @ Vt
    books = _fit_books(X @ R, m, ks, iters, rng, books)
    return R, books


# Rotation matrices above this many bytes ship to executors as a Spark
# broadcast (fetched once per executor, torrent-distributed) instead of
# riding every task's pickled closure; see _ship_rotation.
_ROTATION_SHIP_CAP = 8 << 20


def _ship_rotation(spark, R64: "np.ndarray | None"):
    """Bound the executor-ship cost of an OPQ rotation (guide §4.1: you
    control how many bytes cross to the workers). Returns
    ``(local, broadcast)`` — exactly one is non-None when a rotation
    exists. Small rotations stay in the closure (``local``); above
    ``_ROTATION_SHIP_CAP`` the matrix ships as a Spark broadcast, and —
    when the float32 round-trip is lossless, which it always is for
    rotations from ``build_ivfpq_index``/``train_opq`` consumers since
    those round-trip R through the ARRAY<FLOAT> storage contract before
    any encode — it ships as float32, halving the bytes. A rotation
    whose float64 values do NOT survive the round-trip broadcasts at
    float64: value identity is never traded for ship size. Workers
    upcast back to float64 before use, so results are bit-identical to
    the closure path either way. At D=8192 this turns a 512 MB
    per-closure copy into one 256 MB per-executor fetch."""
    if R64 is None:
        return None, None
    if R64.nbytes <= _ROTATION_SHIP_CAP:
        return R64, None
    R32 = R64.astype(np.float32)
    ship = R32 if np.array_equal(R32.astype(np.float64), R64) else R64
    return None, spark.sparkContext.broadcast(ship)


def _rotation_value(R_local, R_bc):
    """The float64 rotation inside a worker, whichever way it shipped."""
    if R_bc is not None:
        return np.asarray(R_bc.value, dtype=np.float64)
    return R_local


def encode_pq(
    corpus: DataFrame,
    books: list[np.ndarray],
    vec_col: str = "embedding",
    recon_norm_base: str | None = None,
    rotate: np.ndarray | None = None,
) -> DataFrame:
    """Append ``pq_codes`` (array<int>, one code per subspace) and
    ``pq_norm``. Ties in subspace distance break to the lowest code
    (numpy argmin returns the first minimum) for determinism.

    Code stability contract: codes are deterministic WITHIN one encoder
    version (same input, same codebooks -> same codes), but NOT across
    encoder implementations — this numpy form computes exact float64
    subspace distances with numpy's summation order, where the retired
    Column form rounded distances to 1e-9 before the argmin, so a
    residual sitting within ~1e-9 of a two-centroid tie can encode
    differently than it did under the old encoder. Appending to an
    index built by a different encoder version is still CORRECT (ADC
    distances differ by at most the tie gap) but not byte-identical;
    rebuild the index when byte-level reproducibility across versions
    matters.

    One numpy pass per Arrow batch (``mapInPandas``, codebooks in the
    UDF closure): the previous Column-algebra form evaluated m x ks
    interpreted ``zip_with``/``aggregate`` subspace distances per ROW
    (~13 ms/row at m=8, ks=16 — SCALE.md "Round-9" measures the
    CodegenFallback cost class), and encoding is a full-corpus pass in
    every index build. All input columns pass through unchanged.

    ``pq_norm`` default: the reconstructed vector's L2 norm
    ``sqrt(sum_s |c_{s,code_s}|^2)`` (subspaces orthogonal). With
    ``recon_norm_base=<col>`` (an array column, e.g. the IVF bucket
    centroid the residual was taken against) it is the EXACT
    ``|base + decode(codes)|`` — computed in the same batch pass,
    replacing the separate interpreted full-D dot the IVF-PQ build
    used to pay per row.

    ``rotate=R`` (from ``train_opq``) encodes ``v @ R`` instead of
    ``v`` — the OPQ path. The base column rotates too when
    ``recon_norm_base`` is set, so the reconstructed norm stays the
    ORIGINAL-space estimate (orthonormal R preserves norms:
    ``|base + r| = |base @ R + r @ R|``). Small R rides the closure;
    above 8 MB it ships via ``_ship_rotation`` as a (float32, when
    lossless) Spark broadcast — bit-identical codes either way (see
    train_opq's scale envelope)."""
    import pandas as pd

    from pyspark.sql import types as T

    m = len(books)
    books64 = [np.asarray(b, dtype=np.float64) for b in books]
    R_local, R_bc = _ship_rotation(
        corpus.sparkSession, None if rotate is None else np.asarray(rotate, dtype=np.float64)
    )
    cent_norms_sq = [(b ** 2).sum(axis=1) for b in books64]
    out_schema = T.StructType(
        list(corpus.schema.fields)
        + [
            T.StructField("pq_codes", T.ArrayType(T.IntegerType()), False),
            T.StructField("pq_norm", T.DoubleType(), False),
        ]
    )

    def fn(batches):
        R64 = _rotation_value(R_local, R_bc)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            if R64 is not None:
                V = V @ R64
            n = len(V)
            codes = _encode_np(V, books64)
            if recon_norm_base is not None:
                dec = _decode_np(codes, books64)
                base = np.stack(pdf[recon_norm_base].to_numpy()).astype(
                    np.float64, copy=False
                )
                if R64 is not None:
                    base = base @ R64
                recon = base + dec
                norms = np.sqrt((recon * recon).sum(axis=1))
            else:
                nsq = np.zeros(n)
                for s in range(m):
                    nsq += cent_norms_sq[s][codes[:, s]]
                norms = np.sqrt(nsq)
            out = pdf.copy()
            out["pq_codes"] = list(codes)
            out["pq_norm"] = norms
            yield out

    return corpus.mapInPandas(fn, out_schema)


def query_lut(books: list[np.ndarray], qv: np.ndarray) -> list[float]:
    """Flattened m x ks ADC lookup table for one query: subspace inner
    products q_s . c_{s,j}. Shared by the flat PQ scan and the IVF-PQ
    composition (there the SAME query-only table serves every probed
    bucket, because q.(c_b + r) = q.c_b + q.r splits the bucket term
    out as a per-(query, bucket) scalar)."""
    m = len(books)
    ks = books[0].shape[0]
    sub_d = books[0].shape[1]
    return [
        float(qv[s * sub_d : (s + 1) * sub_d] @ books[s][j])
        for s in range(m)
        for j in range(ks)
    ]


def pq_topk(
    encoded: DataFrame,
    books: list[np.ndarray],
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
    max_queries: int | None = None,
    rotate: np.ndarray | None = None,
) -> DataFrame:
    """Approximate cosine top-k via ADC over PQ codes.

    Queries collect driver-side (few — the broadcast-queries shape of
    brute_force_topk), bounded by ``max_queries`` (default
    ``similarity.MAX_COLLECTED_QUERIES``; over-limit raises — see
    ``collect_query_rows``). ``queries`` is evaluated once, by that
    collect, and ``encoded`` is scanned once, by ``adc_topk``: the
    per-query m×ks lookup tables ride the kernel's closure, and the
    scan reads (id, pq_codes, pq_norm) only. Output matches
    brute_force_topk: (query_id, neighbor_id, cos, rank) with cos the
    PQ-approximated cosine.

    ``rerank=N`` adds the standard exact re-ranking stage (FAISS's
    refine step): ADC selects an N-candidate shortlist per query, then
    TRUE cosine ranks only those N rows. The same scan then also reads
    the raw vectors, but exact cosine is computed only for each task's
    ADC survivors (at most N + ties per query), never for the whole
    corpus.

    ``rotate=R`` scores an OPQ index (codes from
    ``encode_pq(..., rotate=R)``): each query rotates driver-side
    before its LUT — ``(x @ R) . (q @ R) = x . q`` for orthonormal R,
    so the ADC score still approximates the ORIGINAL cosine and the
    exact re-rank stage (raw, unrotated vectors) is untouched. Query
    norms are taken pre-rotation (rotation preserves them)."""
    from modelardb_rs_spark.operators.similarity import collect_query_rows

    qrows = collect_query_rows(queries, id_col, vec_col, max_queries)
    return adc_topk(encoded, books, qrows, k, rerank, id_col, vec_col, rotate)


# Doubles per temporary of the driver-side centroid probe: queries are
# ranked in chunks of at most this many (query, bucket) scores.
_PROBE_CHUNK = 1 << 20


def probe_buckets(
    Q: np.ndarray, cents: list, nprobe: int
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Each query's ``nprobe`` nearest buckets, on the driver: for every
    row of ``Q`` the probed bucket ids (ascending) and their q·c_b.
    ``cents`` is (bucket, centroid) pairs; a NULL bucket is never probed.

    The ranking is the Column ``similarity.cosine`` under ``row_number()
    OVER (PARTITION BY query ORDER BY cos DESC, bucket)``, reproduced
    exactly: float64 products summed left to right (``_seq_dot``), a
    zero denominator is NULL and ranks last (so is a centroid holding a
    NULL or of another length), NaN ranks first, -0.0 ties 0.0, and
    ties go to the lower bucket id. Temporaries are at most
    ``_PROBE_CHUNK`` doubles, whatever |Q| is."""
    cents = [(b, c) for b, c in cents if b is not None]
    if not cents:
        return [(np.empty(0, np.int64), np.empty(0))] * len(Q)
    bids = np.asarray([b for b, _ in cents])
    dim = Q.shape[1]
    ok = np.asarray(
        [c is not None and len(c) == dim and None not in c for _, c in cents], dtype=bool
    )
    C = np.zeros((len(cents), dim))
    if ok.any():
        C[ok] = [c for (_, c), good in zip(cents, ok) if good]
    cn = np.sqrt(_seq_dot(C, C))
    out = []
    step = max(1, _PROBE_CHUNK // len(cents))
    for lo in range(0, len(Q), step):
        q = Q[lo : lo + step]
        dots = np.zeros((len(q), len(C)))
        for d in range(dim):
            dots += q[:, d, None] * C[None, :, d]
        den = np.sqrt(_seq_dot(q, q))[:, None] * cn[None, :]
        null = (den == 0) | ~ok[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / den
        nan = np.isnan(cos) & ~null
        rank_class = np.where(null, 2, np.where(nan, 0, 1))
        neg = np.where(rank_class == 1, -cos, 0.0)
        order = np.lexsort(
            (np.broadcast_to(bids, cos.shape), neg, rank_class), axis=-1
        )[:, :nprobe]
        for row, pick in enumerate(order):
            pick = pick[np.argsort(bids[pick], kind="stable")]
            out.append((bids[pick], dots[row, pick]))
    return out


def _query_set(qrows, dim: int):
    """The collected query rows that can score: the Arrow id array (its
    type is the output's) and the (n, dim) float64 vectors. A row with
    a NULL id, a NULL vector, a NULL element or a length other than
    ``dim`` is left out, so it yields no rows, as in
    ``similarity.brute_force_topk``."""
    import pyarrow as pa

    ids = qrows.column(0).combine_chunks()
    vecs = qrows.column(1).to_pylist()
    keep = [
        i
        for i, (q, v) in enumerate(zip(ids.to_pylist(), vecs))
        if q is not None and v is not None and len(v) == dim and None not in v
    ]
    Q = np.asarray([vecs[i] for i in keep], dtype=np.float64).reshape(len(keep), dim)
    return ids.take(pa.array(keep, type=pa.int64())), Q


def adc_topk(
    scan: DataFrame,
    books: list[np.ndarray] | None,
    qrows: pa.Table,
    k: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
    rotate: np.ndarray | None = None,
    cents: list | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """The one probe kernel behind ``pq_topk``, ``ann_index.ivfpq_topk``,
    ``ann_index.ivf_index_topk`` and ``similarity.ivf_topk``: top-k of
    ``scan`` for the collected ``qrows`` (an Arrow table of query ids
    and vectors, see ``collect_query_rows``).

    - With ``books`` (PQ) a row scores its ADC cosine from (id,
      ``pq_codes``, ``pq_norm``), exact re-ranked when ``rerank`` is
      set.
    - With ``books=None`` (flat IVF) a row scores its exact cosine from
      (id, vector).
    - With ``cents`` (IVF) each query scores only the rows of its
      ``nprobe`` buckets (``probe_buckets``), whose union becomes an
      IN-filter on ``scan``'s ``ivf_bucket`` column (partition pruning
      on an index table); ADC adds the bucket scalar q·c_b to the
      residual score.

    One ``mapInArrow`` pass over ``scan``; the per-query LUTs, query
    vectors and bucket scalars ride the closure, |Q|·(m·ks + dim +
    nprobe) doubles, bounded by the query-set collect. Per Arrow batch
    and query the kernel scores the query's rows and keeps the task's
    survivors — every row whose raw score is at least the N-th largest
    minus 2e-6 (N = ``rerank or k``), so a tie after the 6-digit
    rounding at the shortlist boundary is never lost; a task holds at
    most N + ties per query — and, with ``rerank``, computes exact
    cosine for new survivors only, from the raw-vector column of the
    same scan. It emits narrow (query_id, neighbor_id, score[, exact])
    rows; the ranks finish in the JVM through
    ``similarity.ranked_topk``. ``query_id`` keeps the input id type.

    Values match the Column algebra of the SQL mirrors bit for bit: ADC
    sums ``((0.0 + lut[s0]) + lut[s1]) + …`` (plus q·c_b), divided by
    ``qn * max(pq_norm, 1e-12)``; exact cosine sums float64 products
    left to right like ``similarity.dot``/``norm``; rounding to 6
    digits happens in the JVM. A zero denominator (``try_divide``'s
    NULL) and NaN rows are dropped, as ``ranked_topk`` would."""
    import pyarrow as pa

    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    from modelardb_rs_spark.operators.similarity import ranked_topk

    R64 = None if rotate is None else np.asarray(rotate, dtype=np.float64)
    n_keep = rerank or k
    with_exact = rerank is not None
    adc = books is not None
    if adc:
        m, ks = len(books), books[0].shape[0]
        dim = sum(b.shape[1] for b in books)
    else:
        dim = len(cents[0][1]) if cents else 0
    qids, Q = _query_set(qrows, dim)
    qid_num = qids.to_numpy(zero_copy_only=False).astype(np.int64)
    if adc:
        qns = [float(np.sqrt((qv**2).sum())) for qv in Q]
        luts = [
            np.asarray(query_lut(books, qv if R64 is None else qv @ R64)) for qv in Q
        ]
    exact_q = (
        [(qv, float(np.sqrt(_seq_dot(qv[None, :], qv)[0]))) for qv in Q]
        if not adc or with_exact
        else None
    )
    probes = None if cents is None else probe_buckets(Q, cents, nprobe)
    cols = [id_col] + (["pq_codes", "pq_norm"] if adc else [])
    if probes is not None:
        scan = scan.where(
            F.col("ivf_bucket").isin(sorted({b for pb, _ in probes for b in pb.tolist()}))
        )
        cols.append("ivf_bucket")
    if not adc or with_exact:
        cols.append(vec_col)
    at = {c: i for i, c in enumerate(cols)}
    src = scan.select(*cols)
    fields = [
        T.StructField("query_id", from_arrow_type(qids.type)),
        T.StructField("neighbor_id", src.schema[id_col].dataType),
        T.StructField("score", T.DoubleType()),
    ]
    if with_exact:
        fields.append(T.StructField("exact", T.DoubleType()))

    def fn(batches):
        empty = (np.empty(0, np.int64), np.empty(0), np.empty(0))
        held = [empty] * len(qid_num)
        id_type = None
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            id_arr = batch.column(0)
            id_type = id_arr.type
            live = ~id_arr.is_null().to_numpy(zero_copy_only=False)
            ids = id_arr.fill_null(0).to_numpy().astype(np.int64, copy=False)
            if adc:
                codes = batch.column(1).flatten().to_numpy().reshape(n, m)
                norms = batch.column(2).to_numpy(zero_copy_only=False)
            if probes is not None:
                buckets = batch.column(at["ivf_bucket"]).to_numpy(zero_copy_only=False)
            vm = None
            for j, qid in enumerate(qid_num):
                sel = live & (ids != qid)
                if probes is not None:
                    pb, pdot = probes[j]
                    sel &= np.isin(buckets, pb)
                rows = np.flatnonzero(sel)
                if not len(rows):
                    continue
                if vm is None and vec_col in at:
                    vm = _vector_matrix(batch.column(at[vec_col]), dim)
                if not adc:
                    score = _exact_cosine(vm, rows, *exact_q[j])
                else:
                    bucket_dot = (
                        None if probes is None else pdot[np.searchsorted(pb, buckets[rows])]
                    )
                    score = _adc_cosine(
                        codes[rows], norms[rows], luts[j], ks, qns[j], bucket_dot
                    )
                good = ~np.isnan(score)
                rows, score = rows[good], score[good]
                h_id, h_score, h_ex = held[j]
                t = _keep_threshold(np.concatenate([h_score, score]), n_keep)
                keep = h_score >= t
                h_id, h_score, h_ex = h_id[keep], h_score[keep], h_ex[keep]
                keep = score >= t
                rows, score = rows[keep], score[keep]
                ex = (
                    _exact_cosine(vm, rows, *exact_q[j])
                    if with_exact
                    else np.empty(len(rows))
                )
                held[j] = (
                    np.concatenate([h_id, ids[rows]]),
                    np.concatenate([h_score, score]),
                    np.concatenate([h_ex, ex]),
                )
        if id_type is None:
            return
        sizes = [len(h[0]) for h in held]
        out = [
            qids.take(pa.array(np.repeat(np.arange(len(held)), sizes))),
            pa.array(np.concatenate([h[0] for h in held])).cast(id_type),
            pa.array(np.concatenate([h[1] for h in held])),
        ]
        if with_exact:
            out.append(pa.array(np.concatenate([h[2] for h in held])))
        yield pa.RecordBatch.from_arrays(out, names=[f.name for f in fields])

    scored = src.mapInArrow(fn, T.StructType(fields)).withColumn(
        "cos", F.round("score", 6)
    )
    if not with_exact:
        return ranked_topk(scored, k)
    # the exact score rides the shortlist rank inside the id column:
    # struct order compares neighbor_id first, so the rank is unchanged
    shortlist = ranked_topk(
        scored.select("query_id", F.struct("neighbor_id", "exact").alias("__nb__"), "cos"),
        n_keep,
        id_col="__nb__",
    )
    return ranked_topk(
        shortlist.select(
            "query_id",
            F.col("__nb__.neighbor_id").alias("neighbor_id"),
            F.round("__nb__.exact", 6).alias("cos"),
        ),
        k,
    )


def _adc_cosine(codes, norms, lut, ks: int, qn: float, bucket_dot=None) -> np.ndarray:
    """Raw ADC cosine of (n, m) code rows: ``((0.0 + lut[s0]) + lut[s1])
    + …`` plus the bucket scalar q·c_b when given, over ``qn *
    max(pq_norm, 1e-12)`` — the Column algebra's order. NaN where the
    denominator is 0 (``try_divide``'s NULL)."""
    ip = np.zeros(len(codes))
    for s in range(codes.shape[1]):
        ip += lut[s * ks + codes[:, s]]
    if bucket_dot is not None:
        ip += bucket_dot
    den = qn * np.maximum(norms, 1e-12)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den != 0, ip / den, np.nan)


def _keep_threshold(adc: np.ndarray, n_keep: int) -> float:
    """Lowest raw score that can still reach the top ``n_keep`` once
    scores are rounded to 6 digits: the n_keep-th largest minus 2e-6.
    Rounding moves a value by at most 5e-7, so a row that rounds equal
    to the n_keep-th lies within 1e-6 of it and is kept; every dropped
    row is beaten by n_keep rows on its rounded score."""
    if len(adc) <= n_keep:
        return -np.inf
    return np.partition(adc, len(adc) - n_keep)[len(adc) - n_keep] - 2e-6


def _seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise float64 dot of A with B (same shape, or one vector),
    summed left to right over the columns — ``similarity.dot``'s
    ``aggregate`` order, so the values match it bit for bit (numpy's
    pairwise ``sum`` would not)."""
    acc = np.zeros(len(A))
    for d in range(A.shape[1]):
        acc += A[:, d] * B[..., d]
    return acc


def _vector_matrix(vec_arr, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """The (n, dim) float64 rows of an Arrow list column and their norms
    (``_seq_dot`` order): NaN norm for a NULL or wrong-length vector; a
    NULL element reads as NaN."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ok = pc.list_value_length(vec_arr).fill_null(-1).to_numpy() == dim
    V = np.zeros((len(vec_arr), dim))
    if ok.any():
        V[ok] = (
            vec_arr.filter(pa.array(ok)).flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)
        )
    vn = np.sqrt(_seq_dot(V, V))
    vn[~ok] = np.nan
    return V, vn


def _exact_cosine(vm, rows: np.ndarray, qv: np.ndarray, qn: float) -> np.ndarray:
    """Exact cosine of the ``_vector_matrix`` rows at ``rows`` against
    query ``qv`` (exact norm ``qn``): NaN for a NULL, wrong-length or
    zero-norm vector, which ``ranked_topk`` drops like the NULL of
    ``try_divide``."""
    V, vn = vm
    den = qn * vn[rows]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den != 0, _seq_dot(V[rows], qv) / den, np.nan)
