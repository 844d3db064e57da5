"""Persisted ANN index: build once, probe many — the 100 TB shape.

``ivf_topk`` (operators/similarity.py) recomputes bucket centroids per
query, which is right for one-shot jobs but wrong for a serving corpus:
at scale the index is built ONCE and every query must touch only the
probed slice of the data. This module persists an IVF index as two
engine tables inside the data folder:

    <index>__vectors    (id, vector, ivf_bucket)  — Hive-partitioned by
                        ivf_bucket, so a probe's IN-filter prunes whole
                        directories at planning time; only the probed
                        buckets' files are ever listed or opened
                        (FAISS reads only the probed inverted lists; this
                        is the Parquet-native equivalent)
    <index>__centroids  (ivf_bucket, centroid, n_vectors) — tiny, always
                        broadcast

Both tables go through the transactional commit log like every other
table: index builds are atomic, rebuilds are snapshot-isolated with
time travel, and VACUUM applies. The AUTHORITATIVE centroids ride the
vectors table's commit as its meta payload (``Snapshot.meta`` — the
Delta metaData-action analog), so vectors and centroids flip in ONE
atomic commit: a probe overlapping a rebuild reads either the old
files+centroids pair or the new pair, never a mix. The
``<index>__centroids`` table is a derived mirror for SQL consumers,
resynced by maintenance if a crash ever leaves it stale. Indexes
built before the meta payload existed read the mirror directly (two
reads, not snapshot-atomic) until their first ``ivf_index_maintenance``
call upgrades them in place — run maintenance once after deploying to
get the atomicity guarantee on pre-existing indexes.

Buckets come from a provided column (e.g. a label), whose centroids
are its per-bucket means (``similarity.bucket_means``), or from the
one coarse k-means, a seeded numpy fit on a sample
(``similarity.numpy_kmeans_buckets``, the default);
``build_ivf_index``, ``build_ivfpq_index`` and the maintenance rebuild
share one quantize step (``_coarse_quantize``) and one write-and-commit
tail (``_write_index``). Every probe (``ivf_index_topk``,
``ivfpq_topk``) is ``_probe_index``: the driver-side centroid probe and
the one scan of ``pq.adc_topk``, which ``similarity.ivf_topk`` shares,
so persisted-index results are value-identical to the in-line pipeline
(and to its SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from modelardb_rs_spark.frames import rows_frame
from modelardb_rs_spark.operators.similarity import (
    _block_rows,
    _chunk_plan,
    _round6_half_away,
    _vector_matrices,
    best_peers,
    bucket_means,
    collect_query_rows,
    cosine_blocks,
    nearest_centroids,
    numpy_kmeans_buckets,
)

_CENTROIDS_SCHEMA = "ivf_bucket INT, centroid ARRAY<FLOAT>, n_vectors BIGINT"
_BOOKS_SCHEMA = "subspace INT, code INT, centroid ARRAY<FLOAT>"


def _vectors_table(index_name: str) -> str:
    return f"{index_name}__vectors"


def _entry_bucket_counts(add_entries: list[dict]) -> dict[int, int] | None:
    """Per-bucket row counts straight from a commit's staged add
    entries: each normal-table entry records its parquet ``num_rows``
    (footer read at stage time, sources/datafolder.py) and its
    ``ivf_bucket=`` Hive path segment carries the bucket — so a
    partitioned write's own commit statistics ARE the bucket histogram,
    at any bucket count, with zero extra jobs and zero plan overhead.
    Returns None when any entry lacks either piece (unreadable footer —
    callers fall back to an aggregate)."""
    import re as _re

    out: dict[int, int] = {}
    for e in add_entries:
        m = _re.search(r"ivf_bucket=(-?\d+)/", e.get("path", ""))
        n = e.get("num_rows")
        if m is None or n is None:
            return None
        b = int(m.group(1))
        out[b] = out.get(b, 0) + int(n)
    return out


def _fitted_meta_fn(engine, table_name: str, fitted_C, cent_rows: list, gen: int):
    """commit_meta callable for fitted-quantizer writes: fills
    ``cent_rows`` (mutated in place — the caller's mirror write and
    return stats read it) from the staged add entries' bucket counts
    and returns the centroids meta payload. Empty buckets drop (no
    vectors -> no partition directory -> nothing to probe).

    Fallback (any staged footer unreadable): ONE bounded count
    aggregate over the STAGED FILES just written — never the build's
    input lineage, whose re-execution would silently repeat the whole
    Python assign/encode corpus pass (the round-13 hazard VERDICT r13
    item 1 flagged). The fallback is logged loudly and recorded on the
    callable (``meta_fn.fallback_used``) so build stats can surface
    it."""

    def meta_fn(add_entries):
        counts = _entry_bucket_counts(add_entries)
        if counts is None:
            meta_fn.fallback_used = True
            import logging

            logging.getLogger(__name__).warning(
                "%s: staged add entries lack num_rows/ivf_bucket stats; "
                "falling back to one counts scan over the %d staged files",
                table_name, len(add_entries),
            )
            staged_rel = add_entries[0]["path"].split("/", 1)[0]
            staged_uri = engine.folder.fs.join(
                engine.folder.table_path(table_name), staged_rel
            )
            counts = {
                int(r["ivf_bucket"]): int(r["n"])
                for r in engine.spark.read.parquet(staged_uri)
                .groupBy("ivf_bucket")
                .agg(F.count("*").alias("n"))
                .collect()
            }
        cent_rows.extend(
            (b, [float(x) for x in fitted_C[b]], counts[b])
            for b in range(len(fitted_C))
            if counts.get(b, 0) > 0
        )
        return _centroids_meta(cent_rows, gen=gen)

    meta_fn.fallback_used = False
    return meta_fn


def _shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions``, or the default parallelism when
    the conf is unset or not an integer (e.g. AQE's ``auto``)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _bucket_spread(df: DataFrame, id_col: str, n_buckets: int) -> DataFrame:
    """Repartition an assignment frame so the ``partitionBy(ivf_bucket)``
    write produces ~P files instead of tasks x buckets files (guide §6:
    a map-side partitioned write opens one file per (task, partition
    value) — P tasks x k buckets small files per build, a listing and
    open() tax every later probe pays). P follows
    ``spark.sql.shuffle.partitions`` (scale-adaptive conf, cores-sized
    locally, cluster-sized in production). Buckets hash to at most k
    distinct partitions, so when P > k a deterministic id-derived salt
    splits each bucket across ceil(P/k) writers — big buckets never
    serialize into one task (the §2.5 skew rule; the salt is
    id-derived, so task retries reproduce the same placement)."""
    P = _shuffle_partitions(df.sparkSession)
    S = max(1, -(-P // max(int(n_buckets), 1)))
    if S == 1:
        return df.repartition(P, F.col("ivf_bucket"))
    return df.repartition(
        P, F.col("ivf_bucket"), F.pmod(F.xxhash64(F.col(id_col)), F.lit(S))
    )


def _centroids_table(index_name: str) -> str:
    return f"{index_name}__centroids"


def _cache_put(cache: dict, key: tuple, value) -> None:
    """Install ``key -> value`` in a per-engine metadata cache, evicting
    stale entries for the same table (``key[0]``) — THREAD-SAFELY.

    Probes are documented to race rebuilds in separate threads
    (test_ivf_probe_consistent_under_concurrent_rebuilds), so the
    read-evict-write sequence must never re-index the shared dict: a
    concurrent caller resolving a newer build can evict the key between
    our write and a ``return cache[key]`` (KeyError), two evictors can
    race ``del`` (KeyError), and iterating the live dict during a
    concurrent insert raises RuntimeError. ``list()`` snapshots the
    keys, ``pop(k, None)`` tolerates concurrent eviction, and callers
    return their LOCAL value, never a fresh dict lookup. Plain-dict
    item assignment is atomic under both the GIL and per-object locking
    (free-threaded builds), so no explicit lock is needed — the worst
    case is two threads computing the same tiny metadata rows once."""
    for stale in [k for k in list(cache) if k[0] == key[0] and k != key]:
        cache.pop(stale, None)
    cache[key] = value


def _centroid_rows(
    engine, index_name: str, snap=None
) -> list[tuple[int, list[float], int]]:
    """(bucket, centroid, n_vectors) rows for the index, cached per
    engine instance — the single authoritative centroid read.

    The authoritative source is the VECTORS table's commit metadata
    (``Snapshot.meta["ann_centroids"]``): builds and rebuilds commit
    the centroids IN the same commit as the vector files, so one
    snapshot resolution yields a files+centroids pair that is
    consistent by construction — a probe overlapping a rebuild reads
    either the old pair or the new pair, never new vectors against old
    centroids (the two-commit window the ``<index>__centroids`` mirror
    table had). Indexes written before the meta payload existed fall
    back to reading the mirror table — the legacy two-read path, NOT
    snapshot-atomic; the first ``ivf_index_maintenance`` call upgrades
    them in place (installs the meta from the mirror in one empty
    commit), after which this branch never runs for that index.

    Cached by the vectors snapshot's meta generation (appends bump the
    table version but not the centroids, so sustained ingest never
    refills the cache); the legacy path keys on the mirror table's
    live file set as before.

    ``snap`` accepts a pre-resolved vectors-table snapshot so a probe
    can read centroids AND pin its vector scan to the SAME snapshot —
    one resolution, no window between the two reads."""
    vt = _vectors_table(index_name)
    if snap is None:
        snap = engine.folder.log(vt).snapshot()
    cache = engine.__dict__.setdefault("_ann_centroid_cache", {})
    meta = snap.meta or {}
    if "ann_centroids" in meta:
        # keyed by the build's unique id + generation: appends never
        # refill (they don't change the meta), and a drop + rebuild —
        # which restarts generations — gets a fresh build_id
        key = (vt, meta.get("build_id"), meta.get("gen"))
        rows = cache.get(key)
        if rows is None:
            rows = [
                (int(b), [float(x) for x in c], int(n))
                for b, c, n in meta["ann_centroids"]
            ]
            _cache_put(cache, key, rows)
        return rows
    tbl = _centroids_table(index_name)
    ct_snap = engine.folder.log(tbl).snapshot()
    key = (tbl, ct_snap.version, hash(tuple(sorted(ct_snap.paths))))
    rows = cache.get(key)
    if rows is None:
        rows = [
            (int(r["ivf_bucket"]), list(r["centroid"]), int(r["n_vectors"]))
            for r in engine.table(tbl)
            .select("ivf_bucket", "centroid", "n_vectors")
            .collect()
        ]
        _cache_put(cache, key, rows)
    return rows


def build_ivf_index(
    engine,
    index_name: str,
    corpus: DataFrame,
    bucket_col: str | None = None,
    n_buckets: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample: int = 65536,
) -> dict:
    """Build (or rebuild) a persisted IVF index over ``corpus``.

    ``bucket_col`` uses an existing integer column as the coarse
    quantizer (deterministic, SQL-reproducible); otherwise k-means
    learns ``n_buckets`` buckets (seeded), fitting IN NUMPY on a
    bounded seeded hash-ordered sample of ``fit_sample`` vectors
    (``similarity.numpy_kmeans_buckets``) — coarse centroids converge
    on a sample (FAISS trains its coarse quantizers the same way), so
    no iteration ever scans the full corpus (SCALE.md "Round-7" for the
    flat-in-N sampled-fit measurement); assignment still covers every
    vector, map-only. The fit holds ``fit_sample x dim x 8`` bytes on
    the driver: lower ``fit_sample`` at high dims. On the k-means path
    the STORED centroids are the fitted quantizer centroids (the FAISS
    convention — probe assignment then uses exactly the geometry
    vectors were bucketed with) rather than posterior bucket means,
    which saves a corpus pass; the ``bucket_col`` path stores posterior
    means (``similarity.bucket_means`` — the bucket column carries no
    geometry of its own). Returns ``{"n_vectors", "n_buckets"}``.
    """
    vectors, fitted_C, cent_rows, _ = _coarse_quantize(
        index_name, corpus, bucket_col, n_buckets, id_col, vec_col, seed, fit_sample
    )
    return _write_index(
        engine, index_name, vectors, id_col,
        f"{id_col} BIGINT, {vec_col} ARRAY<FLOAT>, ivf_bucket INT",
        fitted_C=fitted_C, cent_rows=cent_rows,
    )


def _coarse_quantize(
    index_name, corpus, bucket_col, n_buckets, id_col, vec_col, seed, fit_sample
):
    """The coarse-quantize step every index build and rebuild starts
    with. Returns ``(vectors, fitted_C, cent_rows, fit_X)``:
    ``vectors`` is (id, vector, ivf_bucket INT) and exactly one of
    ``fitted_C``/``cent_rows`` carries the geometry.

    - ``bucket_col`` set: that column IS the quantizer; ``cent_rows``
      are its posterior (bucket, mean, count) rows from one
      ``bucket_means`` job.
    - otherwise: seeded numpy k-means on the hash-ordered sample,
      called through this module's ``numpy_kmeans_buckets`` attribute.
      ``fitted_C`` is the k x dim quantizer and ``fit_X`` the sample it
      was fitted on; counts come later, from the write's own commit
      statistics."""
    if bucket_col is not None:
        vectors = corpus.select(
            F.col(id_col), F.col(vec_col), F.col(bucket_col).cast("int").alias("ivf_bucket")
        )
        return vectors, None, bucket_means(vectors, vec_col, "ivf_bucket"), None
    try:
        bucketed, fitted_C, fit_X = numpy_kmeans_buckets(
            corpus, k=n_buckets, id_col=id_col, vec_col=vec_col, seed=seed,
            fit_sample=fit_sample,
        )
    except ValueError as e:
        raise ValueError(f"index {index_name!r}: {e}") from e
    vectors = bucketed.select(F.col(id_col), F.col(vec_col), F.col("ivf_bucket"))
    return vectors, fitted_C, None, fit_X


def _cent_pairs(fitted_C, cent_rows) -> list:
    """(bucket, centroid) pairs of either ``_coarse_quantize`` geometry."""
    if fitted_C is not None:
        return list(enumerate(fitted_C))
    return [(b, c) for b, c, _ in cent_rows]


def _write_index(
    engine,
    index_name: str,
    rows: DataFrame,
    id_col: str,
    vec_schema: str | None = None,
    fitted_C=None,
    cent_rows: list | None = None,
    book_rows: list | None = None,
    gen: int = 0,
    expected_paths: list | None = None,
) -> dict:
    """The one write-and-commit tail of every index build and rebuild.

    Centroids ARE index metadata (n_buckets rows): they ride the vectors
    commit as its meta payload — files and centroids flip in ONE atomic
    commit, so probes resolving any snapshot get a consistent pair —
    then mirror into ``<index>__centroids`` for SQL consumers. With
    ``fitted_C`` the centroids are known before the corpus pass and the
    per-bucket counts come from the write's own staged add entries
    (``_fitted_meta_fn``), so the fused assign(+encode)+write job is
    the only corpus pass; otherwise ``cent_rows`` carries the
    (bucket, centroid, count) rows.

    Fresh build (``expected_paths`` None): drop every index table — the
    pqbooks table too, so a plain IVF build never inherits an earlier
    IVF-PQ index's books — create the vectors table as ``vec_schema``,
    append vectors and mirror, then write ``book_rows`` (IVF-PQ) into a
    new pqbooks table. Rebuild: replace the vectors table CONDITIONALLY
    on ``expected_paths`` and rewrite the mirror stamped ``gen``.
    Returns ``{"n_vectors", "n_buckets", "counts_fallback"}``."""
    vt, ct, bt = (
        _vectors_table(index_name),
        _centroids_table(index_name),
        _pqbooks_table(index_name),
    )
    if fitted_C is not None:
        cent_rows = []  # filled by the meta callable at commit time
        meta = _fitted_meta_fn(engine, vt, fitted_C, cent_rows, gen=gen)
        rows = _bucket_spread(rows, id_col, len(fitted_C))
    else:
        meta = _centroids_meta(cent_rows, gen=gen)
        rows = _bucket_spread(rows, id_col, max(len(cent_rows), 1))
    txn = (f"ivf_rebuild::{index_name}", gen)
    if expected_paths is None:
        for t in (vt, ct, bt):
            if t in engine.tables():
                engine.drop(t)
        engine.create_table(vt, vec_schema)
        engine.create_table(ct, _CENTROIDS_SCHEMA)
        if book_rows is not None:
            engine.create_table(bt, _BOOKS_SCHEMA)
        engine.write(vt, rows, partition_by=["ivf_bucket"], commit_meta=meta)
        engine.write(
            ct, rows_frame(engine.spark, cent_rows, _CENTROIDS_SCHEMA), txn=txn
        )
        if book_rows is not None:
            engine.write(bt, rows_frame(engine.spark, book_rows, _BOOKS_SCHEMA))
    else:
        engine.overwrite(
            vt, rows, partition_by=["ivf_bucket"], expected_paths=expected_paths,
            commit_meta=meta,
        )
        engine.overwrite(
            ct, rows_frame(engine.spark, cent_rows, _CENTROIDS_SCHEMA), txn=txn
        )
    return {
        "n_vectors": sum(r[2] for r in cent_rows),
        "n_buckets": len(cent_rows),
        "counts_fallback": bool(getattr(meta, "fallback_used", False)),
    }


def append_to_ivf_index(
    engine,
    index_name: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    txn: tuple[str, int] | None = None,
) -> dict:
    """Incrementally grow a persisted index: assign each new vector to
    its nearest EXISTING centroid (no retrain — classic IVF add) and
    append to the partitioned vectors table in one transaction.
    Centroids stay fixed, so every prior probe plan remains valid; they
    drift from the true bucket means as appends accumulate, which is
    the standard IVF trade — rebuild with ``build_ivf_index`` when
    recall sags. ``txn`` passes a SetTransaction replay gate through to
    the commit (see Engine.write) for exactly-once streaming appends —
    same contract as ``dedup_index.append_to_minhash_index``. Returns
    ``{"appended", "replayed"}``.

    Rebuild-safe: the append commit is CONDITIONAL on the centroids
    generation it assigned against (``expected_meta`` on the index's
    build_id). A maintenance rebuild landing between the centroid read
    and the append commit swaps the geometry, and unconditionally
    committing would plant rows with superseded bucket ids — valid ids
    in the new geometry but the WRONG buckets, a silent recall hole no
    stat would ever surface. On conflict the append re-reads the fresh
    centroids, re-assigns, and retries (bounded); the mirror-image race
    is already covered by the rebuild's conditional replace."""
    # nearest-EXISTING-centroid assignment as a numpy batch scan
    # (mapInPandas, centroid matrix in the closure): the former
    # crossJoin + per-(vector, bucket) interpreted cosine + window was
    # the CodegenFallback-in-the-hot-path shape SCALE.md "Round-9"
    # measures at ~100us per evaluation — on a sustained ingest stream
    # that is rows x buckets of it per micro-batch. argmax ties break
    # to the lowest bucket id (centroids scanned in bucket order),
    # matching the window's (cos DESC, ivf_bucket) order exactly.
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from modelardb_rs_spark.sources.datafolder import ConcurrentModificationError

    vt = _vectors_table(index_name)
    in_schema = new_vectors.select(id_col, vec_col).schema
    out_schema = T.StructType(
        list(in_schema.fields) + [T.StructField("ivf_bucket", T.IntegerType(), False)]
    )
    last_err: Exception | None = None
    for _ in range(3):
        # one snapshot resolution: the centroids assigned against AND
        # the generation the commit is conditioned on come from it
        snap = engine.folder.log(vt).snapshot()
        gen_id = (snap.meta or {}).get("build_id")
        cent_rows = sorted(
            (b, c) for b, c, _ in _centroid_rows(engine, index_name, snap=snap)
        )
        buckets_np = np.asarray([b for b, _ in cent_rows], dtype="int32")
        C = np.asarray([c for _, c in cent_rows], dtype=np.float64)
        Cn = np.sqrt((C * C).sum(axis=1))

        def assign_batches(batches, C=C, Cn=Cn, buckets_np=buckets_np):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (V @ C.T) / (
                        np.sqrt((V * V).sum(axis=1))[:, None] * Cn[None, :]
                    )
                out = pdf.copy()
                out["ivf_bucket"] = buckets_np[np.argmax(cos, axis=1)]
                yield out

        assigned = new_vectors.select(id_col, vec_col).mapInPandas(
            assign_batches, out_schema
        )
        if _pqbooks_table(index_name) in engine.tables():
            # IVF-PQ index: appended vectors must also carry codes —
            # encode residuals against the FIXED books + centroids
            # (classic IVFPQ add; books drift from new data the same way
            # centroids do); exact |c_b + dec(codes)| norms ride the
            # same numpy encode pass
            assigned = _encode_residuals(
                _residuals(engine.spark, assigned, cent_rows, vec_col),
                *_cached_pq_books(engine, index_name), id_col, vec_col,
            )
        # one file per TOUCHED bucket per commit: without the
        # repartition the partitioned writer opens (batch partitions x
        # touched buckets) files per epoch — the small-file tax the
        # append's compaction rule then has to keep paying down (guide
        # §6). No salt here: append batches are micro-batch-sized, and one
        # writer per bucket is the file-count optimum.
        assigned = assigned.repartition(
            max(1, min(_shuffle_partitions(engine.spark), len(cent_rows))),
            F.col("ivf_bucket"),
        )
        try:
            version = engine.write(
                vt, assigned, partition_by=["ivf_bucket"], txn=txn,
                expected_meta=("build_id", gen_id),
            )
        except ConcurrentModificationError as e:
            # a rebuild swapped the geometry between our centroid read
            # and the commit: the staged rows carry superseded bucket
            # ids — re-read the fresh centroids and re-assign
            last_err = e
            continue
        if version is None:
            # txn replay gate skipped the commit: nothing was appended,
            # and reporting new_vectors.count() would both mislead
            # exactly-once audits and launch a pointless Spark job on
            # the no-op path.
            return {"appended": 0, "replayed": True}
        # `appended` from the commit's own add entries (per-file
        # num_rows footer stats): no count job, no Observation — the
        # former Observation form broke on EMPTY batches, where AQE's
        # empty-relation propagation eliminates the CollectMetrics node
        # and the metrics never materialize.
        commit = engine.folder.log(vt).read_commit(version)
        appended = 0
        for e in commit.get("add", []):
            n = e.get("num_rows")
            if n is None:
                # unreadable footer at stage time (pathological): one
                # bounded read-back of just that file
                n = engine.spark.read.parquet(
                    engine.folder.fs.join(
                        engine.folder.table_path(vt), e["path"]
                    )
                ).count()
            appended += int(n)
        return {"appended": appended, "replayed": False}
    raise last_err  # three geometry swaps mid-append: surface the race


def _pqbooks_table(index_name: str) -> str:
    return f"{index_name}__pqbooks"


def _cached_pq_books(engine, index_name: str):
    """``(books, rotation)`` for the index, cached per engine instance
    and books-table file set — index metadata, m x ks (+D rotation)
    tiny rows, same caching contract as ``_centroid_rows``.

    ``books`` is the list of (ks, D/m) per-subspace codebooks;
    ``rotation`` is the OPQ matrix (D x D, ``pq.train_opq``) or None
    for a plain-PQ index. The rotation persists in the SAME pqbooks
    table as ``subspace = -1`` rows (``code`` = row index, ``centroid``
    = that row of R) — one metadata table carries the whole trained
    state, and rebuilds (which never rewrite the books table) keep the
    rotation alongside the books automatically."""
    import numpy as np

    tbl = _pqbooks_table(index_name)
    snap = engine.folder.log(tbl).snapshot()
    cache = engine.__dict__.setdefault("_ann_pqbooks_cache", {})
    key = (tbl, snap.version, hash(tuple(sorted(snap.paths))))
    pair = cache.get(key)
    if pair is None:
        all_rows = engine.table(tbl).select("subspace", "code", "centroid").collect()
        rows = [r for r in all_rows if r["subspace"] >= 0]
        rot_rows = [r for r in all_rows if r["subspace"] < 0]
        m = max(r["subspace"] for r in rows) + 1
        ks = max(r["code"] for r in rows) + 1
        books = [np.zeros((ks, len(rows[0]["centroid"]))) for _ in range(m)]
        for r in rows:
            books[r["subspace"]][r["code"]] = np.asarray(list(r["centroid"]))
        rotation = None
        if rot_rows:
            d = len(rot_rows[0]["centroid"])
            rotation = np.zeros((d, d))
            for r in rot_rows:
                rotation[r["code"]] = np.asarray(list(r["centroid"]))
        pair = (books, rotation)
        _cache_put(cache, key, pair)
    return pair


def build_ivfpq_index(
    engine,
    index_name: str,
    corpus: DataFrame,
    bucket_col: str | None = None,
    n_buckets: int = 16,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample: int = 4096,
    iters: int = 10,
    fit_sample: int = 65536,
    opq: bool = False,
    opq_iters: int = 10,
) -> dict:
    """Persisted IVF-PQ index — the FAISS ``IndexIVFPQ`` composition
    (Jégou/Douze/Schmid TPAMI 2011 §V): coarse-quantize each vector to
    an IVF bucket, then product-quantize its RESIDUAL (x - centroid)
    with codebooks shared across buckets. Probing ADC-scans only the
    ``nprobe`` probed buckets' code columns — the flat ``pq_topk``
    scan shrinks by n_buckets/nprobe, the missing piece that made it a
    scan ceiling at billions of vectors.

    ``opq=True`` trains an orthonormal rotation on the residuals
    (``pq.train_opq`` — the FAISS ``OPQMatrix`` pre-transform) and
    quantizes ``r @ R`` instead of ``r``: same code budget, lower
    quantization error, higher recall at every downstream nprobe/rerank
    setting. The rotation persists as ``subspace = -1`` rows of the
    pqbooks table, so every consumer (``ivfpq_topk``, appends,
    maintenance re-encodes, the dedup gate's ADC pre-screen) picks it
    up through ``_cached_pq_books`` with no further flags; probing
    still scores the ORIGINAL cosine because orthonormal R preserves
    inner products — ``q.(c_b + r) = q.c_b + (q @ R).(r @ R)``. R is
    float32-round-tripped before use so the build's encode and every
    later append encode against bit-identical rotation values.

    Storage is a strict SUPERSET of ``build_ivf_index``'s layout: the
    vectors table gains ``pq_codes``/``pq_norm`` columns (still
    Hive-partitioned by ``ivf_bucket``, raw vectors kept for exact
    re-rank), plus a tiny ``<index>__pqbooks`` table — so
    ``ivf_index_topk`` (exact-within-probed-buckets) keeps working on
    an IVF-PQ index unchanged, and ``ivfpq_topk`` without ``rerank``
    reads codes only.
    Residual encoding beats raw-vector PQ on recall because residuals
    concentrate near zero once the bucket centroid is subtracted.

    Both quantizer fits are sample-bounded by default: the PQ codebook
    fit already trains on ``sample`` residuals, and the coarse k-means
    fits in numpy on ``fit_sample`` seeded hash-ordered vectors (lower
    it at high dims: the fit holds ``fit_sample x dim x 8`` bytes on the
    driver). On the k-means path the PQ/OPQ training
    residuals are derived DRIVER-SIDE from the coarse-fit sample (both
    samples share the xxhash64(id, seed) ordering, so the codebook
    sample is a prefix of the fit sample; the assignment + float32
    residual subtraction replay bit-for-bit in numpy) — the build's
    only full-corpus passes are the fit-sample collect and ONE fused
    assign+encode+write job; per-bucket counts ride that write's own
    commit statistics. The stored centroids are the FITTED quantizer
    centroids (FAISS convention; residuals are taken against the same
    geometry vectors were bucketed with), skipping the posterior-mean
    corpus pass entirely."""
    import numpy as np

    from modelardb_rs_spark.operators import pq as pq_ops

    vectors, fitted_C, cent_rows, fit_X = _coarse_quantize(
        index_name, corpus, bucket_col, n_buckets, id_col, vec_col, seed, fit_sample
    )
    resid = _residuals(engine.spark, vectors, _cent_pairs(fitted_C, cent_rows), vec_col)
    resid_sample = _residual_sample(fit_X, fitted_C, sample, fit_sample)
    rotation = None
    if opq:
        rotation, books = pq_ops.train_opq(
            resid, m=m, ks=ks, vec_col="__resid__", id_col=id_col,
            sample=sample, opq_iters=opq_iters, iters=iters, seed=seed,
            sample_X=resid_sample,
        )
        rotation = rotation.astype(np.float32).astype(np.float64)
    else:
        books = pq_ops.train_pq_codebooks(
            resid, m=m, ks=ks, vec_col="__resid__", id_col=id_col,
            sample=sample, iters=iters, seed=seed, sample_X=resid_sample,
        )
    # the stored rotation AND books are ARRAY<FLOAT>: round-trip both
    # through float32 NOW so this build's codes match what appends and
    # rebuild re-encodes (which read the stored rows via
    # _cached_pq_books) would encode, bit for bit — float64-trained
    # values would let a tie-adjacent residual code differently across
    # the build/append boundary
    books = [b.astype(np.float32).astype(np.float64) for b in books]
    book_rows = [
        (s, j, [float(x) for x in books[s][j]])
        for s in range(len(books))
        for j in range(books[s].shape[0])
    ]
    if rotation is not None:
        # subspace = -1 marks rotation rows; code is the row index
        book_rows += [
            (-1, i, [float(x) for x in rotation[i]])
            for i in range(rotation.shape[0])
        ]
    out = _write_index(
        engine, index_name,
        _encode_residuals(resid, books, rotation, id_col, vec_col), id_col,
        f"{id_col} BIGINT, {vec_col} ARRAY<FLOAT>, ivf_bucket INT, "
        "pq_codes ARRAY<INT>, pq_norm DOUBLE",
        fitted_C=fitted_C, cent_rows=cent_rows, book_rows=book_rows,
    )
    return {
        **out,
        "m": len(books),
        "ks": int(books[0].shape[0]),
        "opq": rotation is not None,
    }


def _residuals(spark, assigned: DataFrame, cent_pairs, vec_col: str) -> DataFrame:
    """``assigned`` (id, vector, ivf_bucket) plus its bucket centroid
    ``__c__`` and the float32 residual ``__resid__`` = vector - centroid:
    one broadcast join against the (bucket, centroid) pairs — index
    metadata — and a JVM ``zip_with`` subtraction."""
    cent_df = rows_frame(
        spark,
        [(int(b), [float(x) for x in c]) for b, c in cent_pairs],
        "ivf_bucket INT, __c__ ARRAY<FLOAT>",
    )
    return assigned.join(F.broadcast(cent_df), "ivf_bucket").withColumn(
        "__resid__",
        F.zip_with(
            F.col(vec_col), F.col("__c__"), lambda x, y: (x - y).cast("float")
        ),
    )


def _residual_sample(fit_X, fitted_C, sample: int, fit_sample: int):
    """The PQ/OPQ training residuals derived DRIVER-SIDE from the
    coarse-fit sample, or None when there is no fitted quantizer or its
    sample cannot cover them.

    Both samples order by xxhash64(id, seed) with ties on id, so the
    codebook sample is a PREFIX of the collected fit sample unless
    ``fit_sample < sample`` hit the limit. The map-side assignment
    (``nearest_centroids``, ties to the lowest bucket) and the JVM
    float32 subtraction of ``_residuals`` replay bit-for-bit, so the
    trained books equal those of ``pq._driver_sample`` over the
    residual frame — and the build skips that full corpus TopK pass."""
    import numpy as np

    if fitted_C is None or not len(fit_X) or (
        len(fit_X) < sample and len(fit_X) >= int(fit_sample)
    ):
        return None
    Xs = fit_X[: int(sample)]
    C32 = np.asarray(fitted_C, dtype=np.float32)
    return (Xs.astype(np.float32) - C32[nearest_centroids(Xs, fitted_C)]).astype(
        np.float64
    )


def ivfpq_topk(
    engine,
    index_name: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k against a persisted IVF-PQ index: ADC
    only WITHIN the probed buckets.

    Driver-side (index metadata, no jobs): each query keeps its
    ``nprobe`` nearest cached centroids and precomputes one query-only
    m x ks lookup table plus a per-(query, bucket) scalar q.c_b — valid
    because q.(c_b + r) = q.c_b + q.r. ``pq.adc_topk`` scores the ONE
    scan of ``_probe_index``: the tables and scalars ride its closure
    (|Q| x (m x ks + dim + nprobe) doubles), each query scores only its
    own buckets' rows, and the scan reads (id, bucket, codes, norm) —
    column pruning drops the raw vectors. ``rerank=N`` re-ranks an
    N-candidate shortlist with true cosine: the same scan then also
    reads the raw vectors, and each task computes exact cosine only for
    its ADC survivors (at most N + ties per query). ``queries`` is
    evaluated once, by the query-set collect, which is bounded by
    ``max_queries`` (default ``similarity.MAX_COLLECTED_QUERIES``;
    over-limit raises — see ``collect_query_rows``)."""
    # books are immutable across rebuilds and need no snapshot pin;
    # codes are re-encoded against each rebuild's centroids, which the
    # probe pins to the scanned snapshot
    books, rotation = _cached_pq_books(engine, index_name)
    return _probe_index(
        engine, index_name, queries, k, nprobe, id_col, vec_col,
        books, rerank, rotation, max_queries,
    )


def ivf_index_topk(
    engine,
    index_name: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a persisted index, touching only probed
    buckets. Value-identical to ``ivf_topk`` over the same buckets: the
    same driver-side probe and the same kernel (``_probe_index``), here
    scoring the raw vectors. The query set is collected once and
    bounded by ``similarity.MAX_COLLECTED_QUERIES`` (over-limit raises).
    Centroids come from the per-engine cache (_centroid_rows), so
    probe-many workloads never re-scan any table."""
    return _probe_index(engine, index_name, queries, k, nprobe, id_col, vec_col)


def _probe_index(
    engine, index_name, queries, k, nprobe, id_col, vec_col,
    books=None, rerank=None, rotation=None, max_queries=None,
) -> DataFrame:
    """The probe of both index kinds: the collected queries pick their
    buckets from the cached centroids and ``pq.adc_topk`` scores one
    scan of the vectors table, whose IN-filter on the probed buckets
    prunes every unprobed directory at planning time. SNAPSHOT-ATOMIC:
    centroids and the vector scan derive from ONE resolved snapshot
    (the commit-meta design), so a concurrent rebuild can never serve
    this probe new vectors under old centroids or vice versa."""
    from modelardb_rs_spark.operators import pq as pq_ops

    vt = _vectors_table(index_name)
    snap = engine.folder.log(vt).snapshot()
    cents = [(b, c) for b, c, _ in _centroid_rows(engine, index_name, snap=snap)]
    qrows = collect_query_rows(queries, id_col, vec_col, max_queries)
    return pq_ops.adc_topk(
        engine.table(vt, version=snap.version), books, qrows, k, rerank,
        id_col, vec_col, rotation, cents, nprobe,
    )


def semantic_dedup_check(
    engine,
    index_name: str,
    new_vectors: DataFrame,
    threshold: float = 0.97,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    within_batch: bool = True,
    max_bucket_rows: int | str | None = "auto",
    auto_chunk_floor: int = 4096,
    auto_chunk_median_mult: int = 4,
    prescreen: int | None = None,
    _probe_counter=None,
) -> DataFrame:
    """Ingest-time semantic-dedup gate against a persisted IVF index —
    the ONLINE half of SemDeDup (the batch half is
    ``similarity.semantic_dedup`` over a whole corpus): each new vector
    probes its ``nprobe`` nearest buckets and is flagged a duplicate
    when its best cosine against the INDEXED corpus — or, with
    ``within_batch`` (default), against a SMALLER-ID row of the same
    batch sharing a probed bucket — clears ``threshold``. Returns
    ``new_vectors`` plus ``dup_of`` (the near-duplicate's id) and
    ``dup_cos`` — both NULL for unique vectors, so
    ``.where(F.col("dup_of").isNull())`` is the admission filter. The
    embedding-space sibling of ``dedup_index.check_against_index``
    (MinHash/lexical).

    ``within_batch=True`` closes the co-admission hole a pure
    index-probe gate has: a burst of near-identical (not
    byte-identical) vectors arriving in ONE batch admits exactly its
    minimum-id member. The rule is pairwise, not transitive — DECIDED
    and test-pinned (round 13): a row is flagged when ANY smaller-id
    batch peer in a shared probed bucket clears the threshold, whether
    or not that peer is itself admitted. In a chain A≈B≈C (with
    cos(A,C) below threshold) this admits ONLY A — C flags against the
    also-flagged B — i.e. the gate is stricter than a fixpoint
    iteration (which would re-admit C). Rationale: the flagged row is
    near the index up to the usual non-transitive slack, admission
    errs toward dropping, and the corpus-level ``semantic_dedup``
    remains the exhaustive backstop
    (test_within_batch_chain_pins_pairwise_rule). Batch ids must be unique, share the index id column's
    type, and not collide with indexed ids.

    Scale shape: the probe (a map-side numpy coarse assignment with the
    centroids in the closure) executes EXACTLY ONCE per call — its
    output is local-checkpointed, so the probed-bucket collect, the
    cogrouped verify, and everything upstream (e.g. the ingest path's
    exact-collapse groupBy) read the materialized blocks instead of
    re-running the lineage; call ``free_gate_blocks`` on the returned
    frame once every consumer has materialized to release the blocks
    deterministically (the streaming ingest path does, per epoch) —
    otherwise the ContextCleaner frees them when the returned plan is
    garbage-collected. The batch then COGROUPS
    with the probed bucket slices of the vectors table and each
    bucket's bipartite cosine block runs as chunked numpy matmul
    (``similarity.best_peers`` over ``similarity.cosine_blocks``, the
    block function of every near-pair verify) —
    candidate pairs never exist as rows, only per-(query, bucket) bests
    do (<= |batch| x nprobe rows). One exchange of the probed corpus
    slices on the bucket key + one |batch|-sized exchange; the
    probed-bucket union is a static IN-filter, so small batches still
    prune unprobed partitions at planning time. (Chosen after MEASURING
    the broadcast-probe alternative at 1M indexed vectors / 8k batch:
    710 s vs 12.5 s — every (query, candidate) pair became a JVM row
    through a broadcast join of the probe rows, the module-rule
    violation for unbounded pair streams.)

    ``max_bucket_rows`` bounds the per-task corpus slice: a hot probed
    bucket's slice no longer serializes into one task — buckets larger
    than the cap split into hash chunks and the verify runs one
    (bucket, chunk) task per corpus chunk, with the batch's rows
    replicated to each (the bipartite form of ``semantic_near_pairs``'s
    chunked verify, through the same ``similarity._chunk_plan``; one
    chunk per bucket is the same plan; re-transfer grows by ~n_b/M for
    that bucket, the price of distributing the work). ``"auto"``
    (default) applies the family's median-anchored rule — max(``auto_chunk_floor``,
    ``auto_chunk_median_mult`` x median built bucket size) — computed
    from the centroid metadata's per-bucket counts, so sizing costs
    ZERO extra jobs; built counts lag post-build appends, which can
    only under-chunk (fewer tasks than ideal), never change results.
    Chunked and unchunked runs are value-identical: per-chunk bests
    meet in the global (cos desc, id asc) window.

    ``prescreen=s`` (IVF-PQ indexes only) makes the verify an ADC
    PRE-SCREEN: the cogroup scans the probed slices' CODE columns
    (m bytes/vector instead of dim x 4 — column pruning drops the raw
    vectors, so gate I/O shrinks by ~dim*4/m), keeps the top-``s`` ADC
    candidates per query, and exact-re-ranks only that |batch| x s
    shortlist against raw vectors (ADC shortlist, then exact cosine).
    Approximate exactly as ADC is: a true near-dup can fall outside
    the ADC top-``s`` (raise ``s``; recall is floored in tests). The
    within-batch block stays exact — it uses the batch's own raw
    vectors, already in task memory.

    Approximate exactly as IVF probing is approximate: a near-dup whose
    match lives outside the probed buckets is missed (raise
    ``nprobe``). NULL/NaN/zero-norm vectors never match (NaN cosine fails
    every threshold — masked BEFORE the per-bucket max, so a degenerate
    indexed vector cannot shadow a true duplicate in its bucket);
    self-id pairs are excluded. ``_probe_counter`` is test
    instrumentation: a Spark accumulator incremented per probed row,
    pinning the one-execution contract."""
    import numpy as np

    from pyspark.sql import types as T

    vt = _vectors_table(index_name)
    snap = engine.folder.log(vt).snapshot()
    cent_rows = sorted(_centroid_rows(engine, index_name, snap=snap))
    buckets_np = np.asarray([b for b, _, _ in cent_rows], dtype="int64")
    C = np.asarray([c for _, c, _ in cent_rows], dtype=np.float64)
    cent_map = {int(b): np.asarray(c, dtype=np.float64) for b, c, _ in cent_rows}
    npb = max(1, min(int(nprobe), len(C)))
    thr = float(threshold)
    # chunk plan from index METADATA (built per-bucket counts): zero
    # extra jobs; stale counts under appends only under-chunk
    chunk = _chunk_plan(
        {int(b): int(n) for b, _, n in cent_rows},
        max_bucket_rows,
        auto_chunk_floor,
        auto_chunk_median_mult,
    )

    q = new_vectors.select(
        F.col(id_col).alias("__qid__"), F.col(vec_col).alias("__qv__")
    )
    probe_schema = T.StructType(
        [
            T.StructField("__qid__", q.schema["__qid__"].dataType, True),
            T.StructField("__qv__", q.schema["__qv__"].dataType, True),
            T.StructField("ivf_bucket", T.IntegerType(), False),
        ]
    )

    def probe_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            if _probe_counter is not None:
                _probe_counter.add(len(pdf))
            top = np.empty((len(pdf), npb), dtype=np.intp)
            for s, cos in cosine_blocks(pdf["__qv__"], C):
                # NULL or NaN query rows rank arbitrarily here; their
                # verify cosines are NaN too, so they can never flag
                cos = np.nan_to_num(cos, nan=-np.inf)
                top[s : s + len(cos)] = np.argsort(-cos, axis=1, kind="stable")[:, :npb]
            out = pdf.iloc[np.repeat(np.arange(len(pdf)), npb)].reset_index(drop=True)
            out["ivf_bucket"] = buckets_np[top.reshape(-1)].astype("int32")
            yield out

    # ONE probe execution per call: localCheckpoint materializes the
    # coarse assignment (and its upstream lineage) into executor-local
    # blocks that both downstream jobs read
    probed = q.mapInPandas(probe_fn, probe_schema).localCheckpoint(eager=True)
    # the probed-bucket union is index metadata (<= n_buckets ints): one
    # tiny action (a checkpoint-block scan, not a re-probe) preserves
    # planning-time partition pruning for small batches; large batches
    # cover every bucket and scan them all
    probed_buckets = [
        int(r["ivf_bucket"]) for r in probed.select("ivf_bucket").distinct().collect()
    ]
    base = engine.table(vt, version=snap.version).where(
        F.col("ivf_bucket").isin(probed_buckets)
    )
    use_pq = prescreen is not None
    if use_pq:
        if _pqbooks_table(index_name) not in engine.tables():
            raise ValueError(
                f"prescreen requires an IVF-PQ index; {index_name!r} has no pqbooks table"
            )
        s_short = int(prescreen)
        if s_short < 1:
            raise ValueError(f"prescreen must be >= 1, got {prescreen}")
        books, pq_rotation = _cached_pq_books(engine, index_name)
        # large OPQ rotations ship as a broadcast, not in every task's
        # pickled cogroup closure (pq._ship_rotation; guide §4.1) —
        # resolved lazily ONCE per task via the memo list, not per group
        from modelardb_rs_spark.operators.pq import _rotation_value, _ship_rotation

        rot_local, rot_bc = _ship_rotation(engine.spark, pq_rotation)
        _rot_memo: list = []

        def _pq_rot():
            if not _rot_memo:
                _rot_memo.append(_rotation_value(rot_local, rot_bc))
            return _rot_memo[0]

        sub_d = books[0].shape[1]
        # column pruning is the point: codes + norm, never raw vectors
        corpus = base.select(
            F.col(id_col).alias("__nid__"), "pq_codes", "pq_norm", "ivf_bucket"
        )
    else:
        corpus = base.select(
            F.col(id_col).alias("__nid__"),
            F.col(vec_col).alias("__nv__"),
            "ivf_bucket",
        )
    # each corpus row lands in its chunk's task, and each batch row
    # joins every chunk task of its probed bucket — the bipartite form
    # of semantic_near_pairs' (chunk_i, chunk_j) plan
    corpus = chunk(corpus, "__nid__")
    left = chunk(probed, partners=True)

    nid_type = base.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("__qid__", q.schema["__qid__"].dataType, True),
            T.StructField("dup_of", nid_type, True),
            T.StructField("dup_cos", T.DoubleType(), True),
            T.StructField("__exact__", T.BooleanType(), False),
        ]
    )

    def _adc_bipartite(bucket, left_pdf, right_pdf):
        """ADC-score the batch against one corpus chunk's CODES and keep
        the top-``s_short`` candidates per query (exact re-rank happens
        downstream on the pooled shortlist). Returns ``(query_ids,
        peer_ids, adc)`` arrays."""
        qids = left_pdf["__qid__"].to_numpy()
        (Q,) = _vector_matrices(left_pdf["__qv__"])
        qn = np.sqrt((Q * Q).sum(axis=1))
        # OPQ index: codes live in the rotated residual space, so the
        # LUT side reads Q @ R; the bucket scalar and norms stay raw
        _R = _pq_rot()
        QR = Q if _R is None else Q @ _R
        cvec = cent_map[int(bucket)]
        nids = right_pdf["__nid__"].to_numpy()
        codes = np.stack(right_pdf["pq_codes"].to_numpy()).astype(np.int64, copy=False)
        pqn = np.maximum(
            right_pdf["pq_norm"].to_numpy().astype(np.float64), 1e-12
        )
        n_c = len(nids)
        s_eff = min(s_short, n_c)
        out_q, out_n, out_c = [], [], []
        bs = _block_rows(n_c)
        with np.errstate(divide="ignore", invalid="ignore"):
            for st in range(0, len(Q), bs):
                Qb = Q[st : st + bs]
                QRb = QR[st : st + bs]
                # q.(c_b + r) = q.c_b + (qR).(rR): one scalar + m LUT lookups
                acc = np.broadcast_to(
                    (Qb @ cvec)[:, None], (len(Qb), n_c)
                ).copy()
                for s in range(len(books)):
                    lut_s = QRb[:, s * sub_d : (s + 1) * sub_d] @ books[s].T
                    acc += lut_s[:, codes[:, s]]
                adc = _round6_half_away(acc / (qn[st : st + bs, None] * pqn[None, :]))
                adc = np.where(np.isnan(adc), -np.inf, adc)
                adc = np.where(nids[None, :] == qids[st : st + bs, None], -np.inf, adc)
                if s_eff >= n_c:
                    idx = np.broadcast_to(np.arange(n_c), (len(Qb), n_c))
                else:
                    idx = np.argpartition(-adc, s_eff - 1, axis=1)[:, :s_eff]
                vals = np.take_along_axis(adc, idx, axis=1).reshape(-1)
                keep = np.isfinite(vals)
                out_q.append(np.repeat(qids[st : st + bs], idx.shape[1])[keep])
                out_n.append(nids[idx.reshape(-1)][keep])
                out_c.append(vals[keep])
        return np.concatenate(out_q), np.concatenate(out_n), np.concatenate(out_c)

    def pair_fn(key, left_pdf, right_pdf):
        import pandas as pd

        qids, qv = left_pdf["__qid__"].to_numpy(), left_pdf["__qv__"]
        parts = [(qids[:0], qids[:0], np.empty(0), True)]
        # batch-vs-batch runs in the chunk-0 task only, where every
        # batch row of the bucket is present
        if within_batch and int(key[1]) == 0 and len(left_pdf) > 1:
            parts.append((*best_peers(qids, qv, thr), True))
        if len(left_pdf) and len(right_pdf):
            if use_pq:
                parts.append((*_adc_bipartite(key[0], left_pdf, right_pdf), False))
            else:
                nids = right_pdf["__nid__"].to_numpy()
                parts.append((*best_peers(qids, qv, thr, nids, right_pdf["__nv__"]), True))
        return pd.DataFrame(
            {
                "__qid__": np.concatenate([p[0] for p in parts]),
                "dup_of": np.concatenate([p[1] for p in parts]),
                "dup_cos": np.concatenate([p[2] for p in parts]),
                "__exact__": np.concatenate([np.full(len(p[0]), p[3]) for p in parts]),
            }
        )

    bests = (
        left.groupby("ivf_bucket", "__o__")
        .cogroup(corpus.groupby("ivf_bucket", "__c__"))
        .applyInPandas(pair_fn, out_schema)
    )
    # global best across the query's probed buckets (and chunks),
    # (cos desc, id asc) — identical to the unchunked single-task rule
    w = Window.partitionBy("__qid__").orderBy(
        F.col("dup_cos").desc(), F.col("dup_of").asc()
    )
    if not use_pq:
        hits = (
            bests.withColumn("__r__", F.row_number().over(w))
            .where(F.col("__r__") == 1)
            .select(F.col("__qid__").alias(id_col), "dup_of", "dup_cos")
        )
    else:
        from modelardb_rs_spark.operators.similarity import dot, norm

        self_hits = bests.where(F.col("__exact__")).select(
            "__qid__", "dup_of", "dup_cos"
        )
        shortlist = (
            bests.where(~F.col("__exact__"))
            .withColumn("__r__", F.row_number().over(w))
            .where(F.col("__r__") <= s_short)
            .select("__qid__", "dup_of")
        )
        # exact re-rank of the |batch| x s shortlist: raw vectors are
        # joined for shortlisted rows out of the probed partitions only
        cv = (
            engine.table(vt, version=snap.version)
            .where(F.col("ivf_bucket").isin(probed_buckets))
            .select(F.col(id_col).alias("dup_of"), F.col(vec_col).alias("__cv__"))
        )
        rerank = (
            shortlist.join(F.broadcast(q), "__qid__")
            .join(cv, "dup_of")
            .withColumn(
                "dup_cos",
                F.round(
                    F.try_divide(
                        dot(F.col("__qv__"), F.col("__cv__")),
                        norm(F.col("__qv__")) * norm(F.col("__cv__")),
                    ),
                    6,
                ),
            )
            .where(~F.isnan(F.col("dup_cos")) & (F.col("dup_cos") >= F.lit(thr)))
            .select("__qid__", "dup_of", "dup_cos")
        )
        hits = (
            self_hits.unionByName(rerank)
            .withColumn("__r__", F.row_number().over(w))
            .where(F.col("__r__") == 1)
            .select(F.col("__qid__").alias(id_col), "dup_of", "dup_cos")
        )
    # no broadcast hint: hits is |batch|-bounded and AQE broadcasts it
    # when small — no need to force what the planner already picks
    out = new_vectors.join(hits, id_col, "left")
    # handle for free_gate_blocks: deterministic cleanup of the probe's
    # local-checkpoint blocks once the caller is done with the verdicts
    # (advisory Python attribute; lost by further transformations, in
    # which case cleanup falls back to the ContextCleaner as before)
    out._gate_probe = probed
    return out


def free_gate_blocks(checked) -> bool:
    """Free the local-checkpointed probe blocks behind a
    ``semantic_dedup_check`` result, DETERMINISTICALLY — the blocks are
    otherwise released only when the ContextCleaner notices the plan is
    garbage (guide §5: unpersist when done); a long-lived ingest session
    holding epoch results could accumulate them. Call AFTER every
    consumer of the returned frame has materialized (the frame is not
    re-executable afterwards). Returns True when blocks were freed;
    False (and a no-op) for frames that lost the probe handle or never
    had one."""
    probed = getattr(checked, "_gate_probe", None)
    if probed is None:
        return False
    try:
        leaves = probed._jdf.queryExecution().analyzed().collectLeaves()
        it = leaves.iterator()
        freed = False
        while it.hasNext():
            leaf = it.next()
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
                freed = True
        if not freed:
            # the Catalyst internals this walks (LogicalRDD class name,
            # rdd() accessor) are private: if a Spark upgrade changes
            # them the checkpoint-block leak this function fixes
            # silently reappears — make the miss visible so CI notices
            import logging

            logging.getLogger(__name__).warning(
                "free_gate_blocks: no LogicalRDD leaf found behind the "
                "gate probe; checkpoint blocks were NOT freed (Catalyst "
                "internals drifted?)"
            )
        return freed
    except Exception:
        import logging

        logging.getLogger(__name__).warning(
            "free_gate_blocks: leaf walk failed; checkpoint blocks were "
            "NOT freed (Catalyst internals drifted?)", exc_info=True
        )
        return False


def ivf_index_stats(engine, index_name: str, drift: bool = True) -> dict:
    """Index health telemetry — the numbers an operator watches to decide
    WHEN to rebuild, instead of waiting for recall to sag silently.
    Classic IVF adds keep centroids fixed (append_to_ivf_index), so two
    things degrade under sustained appends: bucket sizes skew (probe
    cost concentrates) and centroids drift from their buckets' true
    means (nprobe recall sags — the vectors a query should find sit in
    buckets the query no longer probes).

    Cost shape: everything except drift comes from index METADATA — the
    cached centroid rows (n_buckets tiny rows) and the commit log's
    add-entry listing (driver-side, no Spark job) — plus ONE count-only
    aggregate over the partition column (parquet footer counts, no
    vector data read). ``drift=True`` adds the one full pass the drift
    number fundamentally needs: the current per-bucket means of the
    same snapshot from ``similarity.bucket_means`` (one job; each task
    sends K x dim partial sums, merged before the driver), compared to
    the stored centroids in numpy on the driver.

    Returns::

        {"n_buckets", "built_vectors", "current_vectors",
         "appended_fraction",                  # 0 right after a build
         "bucket_min", "bucket_p50", "bucket_max",
         "bucket_imbalance",                   # max/mean; 1.0 = uniform
         "n_files",                            # probe-time open() cost
         "mean_centroid_drift", "max_centroid_drift"}  # drift=True:
                                               # 1 - cos(stored centroid,
                                               # current bucket mean)
    """
    import re as _re

    import numpy as np

    vt = _vectors_table(index_name)
    snap = engine.folder.log(vt).snapshot()
    built = {
        b: (np.array(c, dtype=np.float64), n)
        for b, c, n in _centroid_rows(engine, index_name, snap=snap)
    }
    n_files = len(snap.files)

    # bucket sizes from the COMMIT LOG: every normal-table add entry
    # records its parquet num_rows and the ivf_bucket= partition value
    # is in the path, so the histogram needs ZERO Spark jobs — the
    # telemetry an ingest epoch polls no longer costs a table scan.
    # Any file missing either piece (pre-round-13 commits) falls back
    # to the counting query, pinned to the same snapshot.
    by_bucket: dict[int, int] = {}
    log_ok = True
    for f in snap.files:
        m = _re.search(r"ivf_bucket=(-?\d+)/", f.get("path", ""))
        n = f.get("num_rows")
        if m is None or n is None:
            log_ok = False
            break
        b = int(m.group(1))
        by_bucket[b] = by_bucket.get(b, 0) + int(n)
    if log_ok:
        sizes = by_bucket
    else:
        sizes = {
            int(r["ivf_bucket"]): int(r["n"])
            for r in engine.table(vt, version=snap.version)
            .groupBy("ivf_bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    counts = sorted(sizes.values()) or [0]
    current = sum(counts)
    built_total = sum(n for _, n in built.values())
    mean_sz = current / max(len(sizes), 1)
    out = {
        "n_buckets": len(built),
        "built_vectors": built_total,
        "current_vectors": current,
        "appended_fraction": round(max(current - built_total, 0) / max(current, 1), 4),
        "bucket_min": counts[0],
        "bucket_p50": counts[len(counts) // 2],
        "bucket_max": counts[-1],
        "bucket_imbalance": round(counts[-1] / max(mean_sz, 1e-12), 3),
        "n_files": n_files,
    }
    if drift:
        # the raw vector column is the array<float> one that is not the
        # PQ codes (IVF-PQ vectors tables carry both)
        table = engine.table(vt, version=snap.version)
        vec_col = next(
            c for c, t in table.dtypes if t.startswith("array") and c != "pq_codes"
        )
        drifts = []
        for b, mean, _ in bucket_means(table, vec_col, "ivf_bucket"):
            if b not in built:
                continue
            mean_vec = np.asarray(mean, dtype=np.float64)
            c = built[b][0]
            denom = np.linalg.norm(mean_vec) * np.linalg.norm(c)
            cos = float(mean_vec @ c / denom) if denom > 0 else 1.0
            drifts.append(1.0 - cos)
        out["mean_centroid_drift"] = round(float(np.mean(drifts)), 6) if drifts else 0.0
        out["max_centroid_drift"] = round(float(np.max(drifts)), 6) if drifts else 0.0
    return out


def _centroids_meta(cent_rows: list, gen: int) -> dict:
    """The commit-meta payload carrying the centroids atomically with
    the vectors files. Values are rounded THROUGH float32 so the meta
    read path is bit-identical to the legacy mirror-table read (the
    ``<index>__centroids`` table stores ARRAY<FLOAT>). ``gen`` is the
    monotonically increasing rebuild stamp (also the mirror table's
    SetTransaction version — staleness shows as a gen/stamp mismatch);
    ``build_id`` uniquely identifies this build for the centroid cache
    (appends keep the meta, a drop + rebuild gets a fresh id)."""
    import uuid

    import numpy as np

    return {
        "ann_centroids": [
            [int(b), [float(np.float32(x)) for x in c], int(n)]
            for b, c, n in cent_rows
        ],
        "gen": int(gen),
        "build_id": uuid.uuid4().hex,
    }


def _encode_residuals(resid, books, rotation, id_col, vec_col):
    """PQ-encode a ``_residuals`` frame: one numpy encode pass with exact
    |c_b + dec(codes)| norms, (id, vector, ivf_bucket, pq_codes, pq_norm)
    out. The one IVF-PQ encode recipe of the build, appends and
    maintenance rebuilds; appends and rebuilds pass the index's stored
    books and rotation (``_cached_pq_books``), so an OPQ index's
    re-encodes quantize in the same rotated space the build did."""
    from modelardb_rs_spark.operators import pq as pq_ops

    enc = pq_ops.encode_pq(
        resid, books, vec_col="__resid__", recon_norm_base="__c__", rotate=rotation
    )
    return enc.select(id_col, vec_col, "ivf_bucket", "pq_codes", "pq_norm")


def ivf_index_maintenance(
    engine,
    index_name: str,
    max_appended_fraction: float | None = 0.25,
    max_imbalance: float | None = None,
    max_drift: float | None = None,
    n_buckets: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample: int = 65536,
    stats: dict | None = None,
) -> dict:
    """ACT on ``ivf_index_stats``: when a health threshold trips,
    re-fit the coarse quantizer and rewrite the index ATOMICALLY —
    the missing half of the telemetry (stats that nothing reads are
    dashboards, not maintenance).

    Policy: any enabled threshold trips a rebuild —
    ``max_appended_fraction`` (classic-IVF adds keep centroids fixed,
    so recall sags as the appended share grows), ``max_imbalance``
    (bucket_max/mean — probe cost concentration), ``max_drift``
    (1 - cos(stored centroid, current bucket mean); None by default
    because measuring drift costs the stats pass's one full corpus
    scan — enable it for scheduled maintenance, not hot-path checks.
    Set it WELL ABOVE the post-rebuild residual: a sampled-fit build
    stores the fitted quantizer centroids, which differ from the exact
    posterior bucket means by the Lloyd convergence gap — measured
    ~0.002 max on the fixture — so a threshold at or below that
    residual would trip on every run and oscillate; ~10x the
    post-build reading is a sane floor).
    A no-op run (nothing tripped) launches only the stats queries and
    changes nothing — safe to call on every ingest epoch.

    Rebuild: seeded numpy k-means re-fit on a hash-ordered sample
    (``numpy_kmeans_buckets`` — same contract as ``build_ivf_index``),
    map-only reassignment of the CURRENT vectors (built + appended),
    then ONE ``Engine.overwrite`` of the vectors table whose commit
    carries the new centroids as its meta payload
    (``TransactionLog.commit`` 4-tuple builds). Atomicity: vectors and
    centroids flip in a SINGLE commit — a probe overlapping the
    rebuild resolves one snapshot and gets either the old files+
    centroids pair or the new pair, consistent by construction; there
    is no inter-commit window and nothing to self-heal. The
    ``<index>__centroids`` mirror table is rewritten in a SECOND,
    derived commit purely for SQL consumers: no probe or stats path
    reads it anymore, and if a crash leaves it stale (its
    SetTransaction stamp behind the meta's gen) the next maintenance
    call resyncs it from the meta — a k-row rewrite, not a rebuild.
    The vectors replace is CONDITIONAL on the live file set the
    rebuild read (a concurrent append aborts it with
    ConcurrentModificationError rather than being silently dropped —
    re-run maintenance after the ingest quiesces or from the ingest
    coordinator itself). IVF-PQ indexes keep their trained codebooks
    (the expensive, slowly-drifting part) and re-ENCODE every residual
    against the new coarse geometry in the same pass; retraining books
    is a full ``build_ivfpq_index``.

    ``n_buckets`` defaults to the index's current bucket count.
    ``stats`` accepts a just-computed ``ivf_index_stats`` dict so
    callers that already hold one (the streaming sink) don't pay the
    stats queries twice; it must include drift when ``max_drift`` is
    set. Returns ``{"rebuilt", "reasons", "stats_before"}`` plus
    ``{"n_vectors", "n_buckets"}`` after a rebuild."""
    if stats is None:
        stats = ivf_index_stats(engine, index_name, drift=max_drift is not None)
    reasons = []
    if (
        max_appended_fraction is not None
        and stats["appended_fraction"] > max_appended_fraction
    ):
        reasons.append(
            f"appended_fraction {stats['appended_fraction']} > {max_appended_fraction}"
        )
    if max_imbalance is not None and stats["bucket_imbalance"] > max_imbalance:
        reasons.append(f"bucket_imbalance {stats['bucket_imbalance']} > {max_imbalance}")
    if max_drift is not None and stats["max_centroid_drift"] > max_drift:
        reasons.append(f"max_centroid_drift {stats['max_centroid_drift']} > {max_drift}")
    vt, ct = _vectors_table(index_name), _centroids_table(index_name)
    rebuild_app = f"ivf_rebuild::{index_name}"
    vt_meta = engine.folder.log(vt).snapshot().meta or {}
    if "ann_centroids" not in vt_meta:
        # legacy pre-meta index (built before the commit-meta layout):
        # upgrade it IN PLACE by installing the mirror table's centroids
        # as the vectors table's meta payload — one empty-append commit,
        # no data rewrite — so every subsequent probe is snapshot-atomic
        # WITHOUT waiting for a threshold-tripped rebuild (the documented
        # migration: run maintenance once after deploying). The mirror is
        # trustworthy only when its rebuild stamp agrees with the vectors
        # table's: a crash between a legacy rebuild's two commits left
        # the mirror one geometry behind, and blessing it as meta would
        # FREEZE the torn pair — that (rare) state still forces a healing
        # rebuild, which installs a consistent meta itself.
        vt_stamp = engine.last_txn_version(vt, rebuild_app)
        ct_stamp = engine.last_txn_version(ct, rebuild_app)
        # equal stamps include the None==None case of a never-rebuilt
        # legacy index — where a legacy BUILD that crashed between its
        # vectors and mirror commits also shows equal (None) stamps with
        # a missing or geometry-stale mirror. Sanity-check the mirror
        # before blessing it: it must exist and cover every bucket the
        # vectors table actually has partitions for (parsed from the
        # commit log's paths — zero jobs; empty buckets legitimately
        # appear only in the mirror). Anything else falls through to the
        # healing rebuild, which installs a consistent meta itself.
        mirror_ok = vt_stamp == ct_stamp
        upgrade_rows: list = []
        if mirror_ok:
            if ct not in engine.tables():
                mirror_ok = False
            else:
                upgrade_rows = [
                    (
                        int(r["ivf_bucket"]),
                        [float(x) for x in r["centroid"]],
                        int(r["n_vectors"]),
                    )
                    for r in engine.table(ct)
                    .select("ivf_bucket", "centroid", "n_vectors")
                    .collect()
                ]
                vec_buckets = set()
                for p in engine.folder.log(vt).snapshot().paths:
                    for seg in str(p).split("/"):
                        if seg.startswith("ivf_bucket="):
                            vec_buckets.add(int(seg.split("=", 1)[1]))
                mirror_ok = bool(upgrade_rows) and vec_buckets <= {
                    b for b, _, _ in upgrade_rows
                }
        if mirror_ok:
            upgrade_meta = _centroids_meta(upgrade_rows, gen=int(vt_stamp or 0))
            engine.folder.log(vt).commit(
                lambda snap: ("append", [], [], upgrade_meta)
            )
            vt_meta = engine.folder.log(vt).snapshot().meta or {}
        elif vt_stamp == ct_stamp:
            reasons.append(
                "legacy mirror missing or not covering the vectors table's"
                " buckets (crashed legacy build?) — rebuilding to heal and"
                " upgrade to the atomic commit-meta layout"
            )
        else:
            reasons.append(
                f"crashed pre-meta rebuild detected (vectors stamp {vt_stamp}"
                f" != centroids stamp {ct_stamp}) — rebuilding to heal and"
                " upgrade to the atomic commit-meta layout"
            )
    if "ann_centroids" in vt_meta:
        # mirror resync: a crash between the (authoritative) vectors
        # commit and the (derived) mirror commit leaves the mirror's
        # stamp behind the meta's gen — rewrite the k mirror rows from
        # the meta. Cheap, idempotent, and NOT a rebuild trigger: every
        # probe/stats path reads the meta, so nothing was inconsistent.
        mirror_stamp = engine.last_txn_version(ct, rebuild_app)
        if mirror_stamp is None or mirror_stamp < int(vt_meta["gen"]):
            engine.overwrite(
                ct,
                rows_frame(
                    engine.spark,
                    [(b, c, n) for b, c, n in vt_meta["ann_centroids"]],
                    "ivf_bucket INT, centroid ARRAY<FLOAT>, n_vectors BIGINT",
                ),
                txn=(rebuild_app, int(vt_meta["gen"])),
            )
    if not reasons:
        return {"rebuilt": False, "reasons": [], "stats_before": stats}

    vt_snap = engine.folder.log(vt).snapshot()
    expected = list(vt_snap.paths)
    # monotonically increasing rebuild stamp: the vectors log version
    # strictly grows, so each rebuild's stamp is unique and newer
    stamp = int(vt_snap.version) + 1
    vectors, fitted_C, cent_rows, _ = _coarse_quantize(
        index_name, engine.table(vt).select(id_col, vec_col), None,
        int(n_buckets or stats["n_buckets"]), id_col, vec_col, seed, fit_sample,
    )
    if _pqbooks_table(index_name) in engine.tables():
        vectors = _encode_residuals(
            _residuals(engine.spark, vectors, _cent_pairs(fitted_C, cent_rows), vec_col),
            *_cached_pq_books(engine, index_name), id_col, vec_col,
        )
    # the ONE atomic flip (new files + new centroids in one commit),
    # then the derived mirror for SQL consumers (resynced above if that
    # second commit is lost to a crash)
    out = _write_index(
        engine, index_name, vectors, id_col, fitted_C=fitted_C,
        cent_rows=cent_rows, gen=stamp, expected_paths=expected,
    )
    return {
        "rebuilt": True,
        "reasons": reasons,
        "stats_before": stats,
        "n_vectors": out["n_vectors"],
        "n_buckets": out["n_buckets"],
    }
