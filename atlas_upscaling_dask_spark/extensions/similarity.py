"""Similarity search over embedding columns (array<float>).

Two strategies, same output contract (query_id, neighbor_id, cosine):

* **Brute-force top-k** — the exactness baseline: broadcast the query
  set against the corpus, compute cosine with built-in array functions
  (``aggregate``/``zip_with`` — JVM-side, no Python), rank per query.
  Cost: |Q|·|corpus| dot products, one shuffle for the per-query top-k
  window.  Right answer at any scale where |Q| is modest (the corpus
  side stays partition-parallel and never shuffles).
* **LSH-bucketed ANN** (`ann_lsh_topk`) — sign-bit bucketing: the
  bucket id packs the sign bits of ``n_planes`` leading dimensions
  (axis-aligned hyperplanes — deterministic and oracle-portable;
  random-projection planes drop in by replacing ``_bucket_expr``).
  Candidates are corpus vectors in the query's bucket: one equi-join on
  the bucket key replaces the cross product — the standard recall/cost
  trade of ANN.  An IVF variant would assign buckets by nearest
  centroid instead; the plumbing (bucket → equi-join → rank) is
  identical.

Dot products fold left-to-right over the array on both engines
(``F.aggregate`` here, ``list_dot_product`` in the DuckDB oracle) after
casting elements to double, so results match bitwise.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import index_store


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two double arrays (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """dot/sqrt(|a|²·|b|²) — the exact expression the oracle mirrors."""
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


# ------------------------------------------- one function per decision
#
# Every IVF/PQ operator below makes the same few decisions; each lives
# in exactly one function here, so a change (batched queries, executor-
# side LUTs, a different seeding rule) is made once.  The only driver
# collects are the seeds, the queries, and one Lloyd aggregate per
# refinement round (`kmeans_centroids`, `refine_pq_codebooks`).


def _seed_vectors(corpus: DataFrame, n: int, id_col: str, vec_col: str) -> list:
    """The ``n`` lowest-id corpus vectors — the no-RNG seeding rule of
    every quantizer here (IVF centroids, k-means init, PQ codebooks),
    so the whole path stays SQL-replayable.  One bounded driver collect
    of ``n`` rows."""
    return [r[0] for r in corpus.orderBy(id_col).limit(n).select(vec_col).collect()]


def _unit_rows(vecs) -> np.ndarray:
    """``vecs`` as a float64 matrix with every row scaled to unit L2."""
    mat = np.array(vecs, dtype=np.float64)
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


class _Queries(NamedTuple):
    ids: list  # int query ids
    vecs: list  # raw float64 vectors
    units: list  # the vectors scaled to unit L2
    probes: list  # per query, the bucket ids it probes


def _collect_queries(
    queries: DataFrame, id_col: str, vec_col: str, cents=None, n_probe: int = 1
) -> _Queries:
    """The one driver collect of the (small-by-contract) query set and
    the one probe ranking: each query probes the ``n_probe`` centroid
    buckets nearest by cosine (stable argsort: ties go to the lowest
    centroid id, the oracle's row_number order).  Without ``cents``
    every query probes the one all-covering bucket 0.  An empty query
    set gives empty lists, and every top-k operator then returns an
    empty frame."""
    rows = queries.select(id_col, vec_col).collect()
    vecs = [np.asarray(r[1], dtype=np.float64) for r in rows]
    units = [v / np.linalg.norm(v) for v in vecs]
    probes = [
        [0] if cents is None
        else [int(b) for b in np.argsort(-(cents @ u), kind="stable")[:n_probe]]
        for u in units
    ]
    return _Queries([int(r[0]) for r in rows], vecs, units, probes)


def _nearest_centroid(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Bucket of each row: its nearest centroid by cosine (argmax over
    the unit rows, lowest id on ties).  Norms floor at 1e-12, so an
    all-zero row scores 0 against every centroid and lands in bucket 0."""
    norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return ((mat / norms) @ cents.T).argmax(axis=1)


def _pq_nanos(x: np.ndarray, bk: np.ndarray):
    """Per subspace ``j``, yield the (rows, k_sub) squared L2 between
    the j-th subvectors of ``x`` and codebook ``bk[j]``, rounded half-up
    to 9 digits and held in nanos.  The fold over ``dsub`` runs in
    strict left-to-right float64 order — the expression backend's
    ``F.aggregate`` order (np.sum's pairwise blocking would drift a ulp
    and flip round-9 ties) — and the rounding is explicit half-up
    (np.round is half-even; distances are non-negative, so
    +0.5-floor is exact half-up).  Parity with Spark's ``F.round`` and
    DuckDB's ``round`` is property-tested."""
    m, k_sub, dsub = bk.shape
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        d = np.zeros((len(x), k_sub))
        for t in range(dsub):
            diff = xs[:, t : t + 1] - bk[j, :, t][None, :]
            d += diff * diff
        yield np.floor(d * 1e9 + 0.5)


def _pq_codes(x: np.ndarray, bk: np.ndarray) -> np.ndarray:
    """(rows, m) PQ codes: per subspace, the argmin of the round-9
    distances (first minimum = the lowest-code tie-break)."""
    return np.stack([(d / 1e9).argmin(axis=1) for d in _pq_nanos(x, bk)], axis=1)


def _fixed_point_mean(frame: DataFrame, keys: list, vec: Column, precision_bits: int) -> DataFrame:
    """Mean of the array column ``vec`` per (``keys``, dim) in fixed
    point: (keys..., dim, centroid, n); ``keys`` are column names or
    aliased columns.

    Floating sums are order-dependent, so a distributed mean would
    never reproduce bitwise across engines or even across runs with
    different partitioning.  Scaling by 2^precision_bits is EXACT in
    binary FP (power-of-two multiply), floor+cast yields exact
    integers, the sums combine associatively (map-side partial agg),
    and one final double division is deterministic.  The quantization
    error is bounded by 2^-precision_bits per element."""
    scale = float(1 << precision_bits)
    exploded = frame.select(*keys, F.posexplode(_as_double(vec)).alias("dim", "v"))
    keys = exploded.columns[: len(keys)]
    return (
        exploded.groupBy(*keys, "dim")
        .agg(
            F.sum(F.floor(F.col("v") * scale).cast("long")).alias("s_fp"),
            F.count("*").alias("n"),
        )
        .select(
            *keys,
            "dim",
            (F.col("s_fp") / (F.col("n") * F.lit(scale))).alias("centroid"),
            "n",
        )
    )


def _ivf_sidecar(spark, path: str) -> dict:
    """A persisted IVF index's JSON sidecar, centroids as a float64 matrix."""
    side = index_store.params(spark, path, index_store.IVF)
    side["centroids"] = np.asarray(side["centroids"], dtype=np.float64)
    return side


def _probed_buckets(spark, path: str, q: _Queries) -> DataFrame:
    """A persisted IVF index restricted to the probed buckets — an IN
    over the partition column, so unprobed bucket directories are never
    listed or read (PartitionFilters) — minus tombstoned ids."""
    probed = sorted({b for bs in q.probes for b in bs})
    return index_store.live(spark, path, index_store.IVF, {}).filter(
        F.col("bucket").isin(probed)
    )


def _top_k(scored: DataFrame, k: int, score, *order) -> DataFrame:
    """Per-query top-k window: number each query's rows by ``order``
    and keep ranks 1..k as (query_id, neighbor_id, score, rk)."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", score, "rk")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    The query side is broadcast (small by contract); corpus partitions
    stream through the JVM-side cosine without shuffling.  The only
    shuffle is the per-query ranking window.  Ties break on neighbor id
    for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    return _top_k(scored, k, "cosine", F.col("cosine").desc(), "neighbor_id")


def brute_force_topk_blas(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via vectorized matrix products — the scale path.

    The query vectors are captured into the closure (broadcast to every
    task, normalized once per task); each corpus partition computes one
    |part|×|Q| GEMM in NumPy and emits only its **local top-k per
    query** — so the shuffle that follows carries |Q|·k rows per
    partition instead of |Q|·|corpus| scored pairs.  A final per-query
    ranking window over ≤ |Q|·k·n_partitions rows picks the global
    top-k.  This partial-top-k shape is what survives a 100 TB corpus;
    the ``brute_force_topk`` fold variant exists for bitwise oracle
    parity (GEMM sums in a different order, so scores differ in the
    last ulp).  An empty query set returns an empty frame.
    """
    q_ids, q_vecs, _, _ = _collect_queries(queries, id_col, vec_col)

    def local_topk(batches):
        if not q_ids:
            return
        q_mat = _unit_rows(q_vecs)
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            sims = _unit_rows(list(pdf[vec_col])) @ q_mat.T  # |part| × |Q|
            outs = []
            for qi, qid in enumerate(q_ids):
                col = sims[:, qi]
                mask = ids != qid
                cand_idx = np.nonzero(mask)[0]
                take = min(k, len(cand_idx))
                if not take:
                    continue
                best = cand_idx[np.argsort(-col[cand_idx], kind="stable")[:take]]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[best],
                            "cosine": col[best],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    partial = corpus.mapInPandas(
        local_topk, schema="query_id long, neighbor_id long, cosine double"
    )
    return _top_k(partial, k, "cosine", F.col("cosine").desc(), "neighbor_id")


def _bucket_expr(vec: Column, n_planes: int) -> Column:
    """Pack the sign bits of the first ``n_planes`` dimensions into an int."""
    bucket = F.lit(0)
    for j in range(n_planes):
        bucket = bucket + F.when(vec[j] > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign-bit bucket.

    One equi-join on the bucket key instead of a cross product — at
    100 TB the corpus is written bucketed/partitioned by this key so the
    probe side prunes partitions and the join co-locates without a
    shuffle.  Recall is tuned by ``n_planes`` (fewer planes → bigger
    buckets → higher recall, more compute).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("bucket", _bucket_expr(F.col("qv"), n_planes))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("bucket", _bucket_expr(F.col("cv"), n_planes))
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    return _top_k(scored, k, "cosine", F.col("cosine").desc(), "neighbor_id")


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (d1 < d2, cosine ≥ τ).

    Bucketed self-join (same sign-bit LSH as ``ann_lsh_topk``) — the
    scale path for near-dup detection over embeddings; exact within a
    bucket.
    """
    c = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("bucket", _bucket_expr(F.col("v"), n_planes))
    a = c.select(F.col("id").alias("d1"), F.col("v").alias("v1"), "bucket")
    b = c.select(F.col("id").alias("d2"), F.col("v").alias("v2"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", cosine(F.col("v1"), F.col("v2")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the centroid-bucket ANN.

    Coarse quantizer: ``n_centroids`` centroids picked deterministically
    (the lowest-id corpus vectors — k-means refinement drops in without
    changing the plan shape).  Corpus vectors are assigned to their
    nearest centroid (one narrow GEMM pass); each query probes its
    ``n_probe`` nearest centroid buckets.  The probe join is an
    equi-join on the bucket id — at 100 TB the corpus is written
    partitioned by bucket, so probes prune partitions.  Recall/cost is
    tuned by ``n_probe``/``n_centroids`` exactly as in FAISS-style IVF.
    An empty query set returns an empty frame.
    """
    cents = kmeans_centroids(
        corpus, n_centroids, refine_iters, id_col=id_col, vec_col=vec_col
    )
    q = _collect_queries(queries, id_col, vec_col, cents, n_probe)
    return _score_probed(q, _assign_buckets(corpus, cents, id_col, vec_col), k)


def _assign_buckets(corpus: DataFrame, cents, id_col: str, vec_col: str) -> DataFrame:
    """One narrow GEMM pass: (neighbor_id, bucket, cv)."""

    def assign(batches):
        for pdf in batches:
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "bucket": _nearest_centroid(mat, cents).astype(np.int32),
                    "cv": pdf[vec_col],
                }
            )

    return corpus.mapInPandas(
        assign,
        schema=(
            "neighbor_id long, bucket int, "
            f"cv {corpus.schema[vec_col].dataType.simpleString()}"
        ),
    )


def _score_probed(q: _Queries, assigned: DataFrame, k: int) -> DataFrame:
    """Expand each collected query to its probed buckets (query_id,
    bucket, unit qv), broadcast-join them onto the bucket key, and keep
    the per-query top-k.

    Ranking orders on the cosine ROUNDED to 9 digits (the same rounding
    the oracle comparison applies), so when two neighbors differ only in
    the last ulp — e.g. because this path normalizes qv while an oracle
    evaluates the scale-invariant cosine on the raw vector — the
    deterministic neighbor_id tie-break governs identically in both
    engines instead of flipping rk on float noise.
    """
    q_df = assigned.sparkSession.createDataFrame(
        [(i, b, u.tolist()) for i, u, bs in zip(q.ids, q.units, q.probes) for b in bs],
        "query_id long, bucket int, qv array<double>",
    )
    scored = (
        F.broadcast(q_df)
        .join(assigned, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), _as_double(F.col("cv"))).alias("cosine"),
        )
    )
    return _top_k(
        scored, k, "cosine", F.round(F.col("cosine"), 9).desc(), "neighbor_id"
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    refine_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq: bool = False,
    pq_m: int = 4,
    pq_k_sub: int = 16,
    pq_refine_iters: int = 0,
) -> None:
    """Materialize the IVF index: corpus PARTITIONED BY bucket on disk,
    centroids in a JSON sidecar.  With ``pq=True`` the deterministic PQ
    codebooks land in the sidecar too, enabling
    :func:`ivf_pq_index_topk`'s ADC scan over the same layout.

    This is the 100 TB shape of IVF: assignment runs once at build
    time, and every later query reads ONLY its probed buckets — the
    bucket partition column prunes directories before a single byte of
    vector data is scanned (`ivf_index_topk` plans a scan with
    PartitionFilters, not a full-corpus pass).
    """
    # ONE seed collect serves both deterministic quantizers, as in
    # ivf_pq_topk: the coarse centroids and the PQ codebooks are both
    # lowest-id corpus vectors
    seeds = _seed_vectors(
        corpus, max(n_centroids, pq_k_sub) if pq else n_centroids, id_col, vec_col
    )
    cents = _lloyd_centroids(
        corpus, _unit_rows(seeds[:n_centroids]), refine_iters, vec_col=vec_col
    )
    side = {
        "n_centroids": int(cents.shape[0]),
        "dim": int(cents.shape[1]),
        "centroids": cents.tolist(),
    }
    if pq:
        pq_books = _books_from_vecs(seeds, pq_m, pq_k_sub)
        if pq_refine_iters > 0:
            pq_books = refine_pq_codebooks(
                corpus, pq_books, pq_refine_iters, vec_col=vec_col
            )
        side["pq_books"] = pq_books
    index_store.write(
        _assign_buckets(corpus, cents, id_col, vec_col), path, index_store.IVF, side
    )


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index with partition-pruned bucket reads.

    The probed-bucket filter is an IN over the partition column, so the
    parquet scan only lists/reads those directories (visible as
    PartitionFilters in the plan) — query cost scales with
    |Q| · n_probe · bucket-size, independent of corpus size.  The
    probed buckets come from the probe lists already on the driver; an
    empty query set returns an empty frame.
    """
    cents = _ivf_sidecar(spark, path)["centroids"]
    q = _collect_queries(queries, id_col, vec_col, cents, n_probe)
    return _score_probed(q, _probed_buckets(spark, path, q), k)


def quantize_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column.

    Per-vector scale = max |v| / 127; stored values are
    ``floor(v/scale)`` in [-127, 127] — 4× smaller than float32, the
    standard storage trade for 100 TB embedding stores (search runs on
    int8, exact rescoring on the float originals).  floor (not round)
    keeps the op bitwise-portable to the SQL oracle.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / 127.0
    # the negative-max element can floor to -128 through FP rounding
    # (v/scale lands an ulp below -127) - clamp to the symmetric range;
    # an all-zero vector has scale 0 - quantize to zeros instead of
    # dividing by zero (ANSI mode raises)
    q = F.transform(
        v,
        lambda x: F.when(scale == 0, F.lit(0))
        .otherwise(F.greatest(F.floor(x / scale), F.lit(-127)))
        .cast("int"),
    )
    return corpus.select(
        F.col(id_col).alias("vec_id"),
        scale.alias("scale"),
        q.alias("q"),
    ).select(
        "vec_id",
        "scale",
        F.posexplode("q").alias("dim", "qval"),
    )


def label_centroids(
    corpus: DataFrame,
    precision_bits: int = 20,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid of the embedding vectors, in fixed-point
    (``_fixed_point_mean``: bitwise reproducible under any partitioning,
    error ≤ 2^-precision_bits per element — choose bits for the
    precision the downstream consumer needs; IVF coarse centroids need
    far less than 20 bits).

    Returns (label, dim, centroid, n).
    """
    return _fixed_point_mean(
        corpus, [F.col(label_col).alias("label")], F.col(vec_col), precision_bits
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    precision_bits: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic distributed Lloyd iterations — the IVF coarse
    quantizer's refinement step.

    Init = the ``n_centroids`` lowest-id vectors (reproducible, no RNG;
    ``iters=0`` is the unrefined coarse quantizer of ``ivf_topk``).
    Each iteration: one narrow assignment pass (argmax cosine against
    the broadcast centroids) and one shuffle keyed (bucket, dim) that
    recomputes means in fixed point (``_fixed_point_mean``: the SAME
    input yields the SAME centroids under ANY partitioning; a float sum
    would make clustering runs non-reproducible).  Centroids live on
    the driver between rounds: n_centroids × dim floats, trivially
    collectable at any corpus size.

    Returns a numpy array (n_centroids, dim), L2-normalized.
    """
    seeds = _seed_vectors(corpus, n_centroids, id_col, vec_col)
    return _lloyd_centroids(corpus, _unit_rows(seeds), iters, precision_bits, vec_col)


def _lloyd_centroids(
    corpus: DataFrame,
    cents: np.ndarray,
    iters: int,
    precision_bits: int = 20,
    vec_col: str = "embedding",
) -> np.ndarray:
    """``iters`` Lloyd rounds of :func:`kmeans_centroids` from the unit
    rows ``cents``, for callers that already hold the seeds."""
    for _ in range(iters):
        bc = cents  # closure snapshot for this round

        def assign(batches):
            for pdf in batches:
                mat = np.array(list(pdf[vec_col]), dtype=np.float64)
                bucket = _nearest_centroid(mat, bc).astype(np.int32)
                yield pd.DataFrame({"bucket": bucket, "v": list(pdf[vec_col])})

        assigned = corpus.mapInPandas(assign, schema="bucket int, v array<float>")
        agg = _fixed_point_mean(assigned, ["bucket"], F.col("v"), precision_bits)
        means = {}
        for r in agg.collect():
            means.setdefault(r["bucket"], np.zeros(cents.shape[1]))[r["dim"]] = r["centroid"]
        new = cents.copy()
        for b, c in means.items():
            nrm = np.linalg.norm(c)
            if nrm > 0:
                new[b] = c / nrm
        cents = new
    return cents


# --------------------------------------------------------------------- PQ


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k_sub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic product-quantization codebooks: subspace ``j``'s
    codewords are the ``k_sub`` lowest-id corpus vectors' j-th
    subvectors (the same no-RNG seeding contract as ``ivf_topk``'s
    coarse quantizer, so the whole PQ path is SQL-replayable).  Returns
    a nested list [m][k_sub][dsub] of Python floats.

    Production refinement (per-subspace Lloyd with fixed-point means,
    like ``kmeans_centroids``) plugs in here without changing the
    encode/score plumbing; the unrefined books already give the
    recall-vs-brute-force property the tests pin.
    """
    return _books_from_vecs(_seed_vectors(corpus, k_sub, id_col, vec_col), m, k_sub)


def _books_from_vecs(vecs: list, m: int, k_sub: int):
    """Codebooks from already-collected lowest-id vectors (shared with
    ``ivf_pq_topk``, whose coarse centroids come from the same seed
    collect)."""
    if len(vecs) < k_sub:
        raise ValueError(f"corpus has fewer than {k_sub} vectors")
    vecs = vecs[:k_sub]
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [[float(v[j * dsub + t]) for t in range(dsub)] for v in vecs]
        for j in range(m)
    ]


def refine_pq_codebooks(
    corpus: DataFrame,
    books: list,
    iters: int = 2,
    precision_bits: int = 20,
    vec_col: str = "embedding",
) -> list:
    """Per-subspace Lloyd refinement of PQ codebooks — the production
    step :func:`pq_codebooks`'s docstring names, deterministic like
    :func:`kmeans_centroids`.

    Each iteration is one narrow assignment pass (every subspace's
    round-9 argmin, the exact encode contract) and ONE shuffle keyed
    (subspace, code, dim) that recomputes codeword means in fixed
    point (floor(v·2^k) sums — exact and order-independent, so the
    same corpus yields the same books under any partitioning).
    Codewords that attract no members keep their previous value.
    Books live on the driver between rounds: m·k_sub·dsub floats.

    Refined books are NOT SQL-replayable (the oracle replays the
    lowest-id seeds); they slot into `pq_encode`/`pq_topk`/
    `build_ivf_index(pq=True)` unchanged — distortion strictly
    improves on clustered data (pinned in tests).
    """
    bk = np.asarray(books, dtype=np.float64)
    m, _, dsub = bk.shape
    for _ in range(iters):
        cur = bk  # closure snapshot for this round

        def assign(batches):
            for pdf in batches:
                x = np.array(list(pdf[vec_col]), dtype=np.float64)
                yield pd.DataFrame(
                    {
                        "j": np.repeat(np.arange(m, dtype=np.int32), len(x)),
                        "code": _pq_codes(x, cur).T.ravel().astype(np.int32),
                        "sub": list(
                            np.vstack([x[:, j * dsub : (j + 1) * dsub] for j in range(m)])
                        ),
                    }
                )

        assigned = corpus.mapInPandas(
            assign, schema="j int, code int, sub array<double>"
        )
        agg = _fixed_point_mean(assigned, ["j", "code"], F.col("sub"), precision_bits)
        new = bk.copy()
        for r in agg.collect():
            new[r["j"], r["code"], r["dim"]] = r["centroid"]
        bk = new
    return bk.tolist()


def _l2sq(a, b):
    """Squared L2 between two array columns — left-to-right fold, the
    same evaluation order DuckDB's list_sum uses."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_encode_numpy(
    corpus: DataFrame, books: list, id_col: str, vec_col: str
) -> DataFrame:
    """Arrow-batched encode kernel, BITWISE-identical to the expression
    backend (``_pq_codes``: the same fold order, rounding and
    lowest-code tie-break)."""
    bk = np.asarray(books, dtype=np.float64)  # (m, k_sub, dsub)
    # keep the id column's own type (the expr backend already does) —
    # a string or int id must round-trip unchanged, not be cast to long
    id_type = corpus.schema[id_col].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            codes = _pq_codes(x, bk).astype(np.int32)
            yield pd.DataFrame(
                {"vec_id": pdf[id_col], "codes": list(codes)}
            )

    return corpus.mapInPandas(
        kernel, schema=f"vec_id {id_type}, codes array<int>"
    )


def pq_encode(
    corpus: DataFrame,
    books: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    backend: str = "numpy",
) -> DataFrame:
    """PQ-encode every vector: ``codes[j]`` = index of subspace ``j``'s
    nearest codeword (squared L2, rounded to 9 digits before the argmin
    so the tie-break — lowest code — is engine-stable).  Output is
    (id, codes array<int>): m bytes-worth per vector instead of
    4·dim — the 64× compression that makes exhaustive ADC scans
    feasible at corpus scale.  Fully narrow, no shuffle.

    Backends (property-tested to produce IDENTICAL codes): ``"numpy"``
    (default — vectorized Arrow kernel, ~4× faster) and ``"expr"``
    (pure Catalyst expressions — the dual the SQL oracle replays
    term-for-term; also what a no-Python deployment would run)."""
    m, k_sub, dsub = len(books), len(books[0]), len(books[0][0])
    if backend == "numpy":
        return _pq_encode_numpy(corpus, books, id_col, vec_col)
    if backend != "expr":
        raise ValueError(f"backend must be expr|numpy, got {backend!r}")
    # chained projections (the duplicate_spans lesson): the cast and each
    # subvector slice become real columns evaluated once per row (5.4 s
    # → 4.8 s at sf0.1 — the m·k_sub interpreted distance folds are the
    # remaining cost, which is what the numpy backend removes: 1024
    # expression-tree steps per row become 16 vectorized passes)
    b0 = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    b1 = b0.select(
        "vec_id",
        *[
            F.slice(F.col("v"), j * dsub + 1, dsub).alias(f"s{j}")
            for j in range(m)
        ],
    )
    codes = F.array(
        *[
            F.element_at(
                F.array_sort(
                    F.array(
                        *[
                            F.struct(
                                F.round(
                                    _l2sq(
                                        F.col(f"s{j}"),
                                        F.array(
                                            *[F.lit(x) for x in books[j][c]]
                                        ),
                                    ),
                                    9,
                                ).alias("d"),
                                F.lit(c).alias("code"),
                            )
                            for c in range(k_sub)
                        ]
                    )
                ),
                1,
            )["code"]
            for j in range(m)
        ]
    )
    return b1.select("vec_id", codes.alias("codes"))


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 4,
    k_sub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    backend: str = "kernel",
) -> DataFrame:
    """Asymmetric-distance PQ search: encode the corpus once (m small
    ints per vector), then score every (query, neighbor) as the sum of
    per-subspace squared L2 between the RAW query subvector and the
    neighbor's codeword — the classic ADC scan (Jégou et al., "Product
    Quantization for Nearest Neighbor Search").

    Backends (r13 — property-pinned result-identical; the
    semantic_dedup fold→gemm precedent):

    * ``"kernel"`` (default) — the shared IVFADC Arrow kernel
      (``_adc_scan_topk``) with a single all-covering bucket: encode +
      int-nanos LUT scoring + partition-local top-k fused into ONE
      narrow pass; the only exchange is the final per-query ranking
      window over ≤ |Q|·k·n_partitions rows.  The per-(query,neighbor)
      distance is the same exact integer sum of round-to-9 terms the
      aggregation computes (``_pq_nanos``), so outputs are
      bitwise identical.
    * ``"agg"`` — the relational dual the SQL oracle replays: codes
      explode to (neighbor, j, code) and join the broadcast codeword
      table and broadcast query subvectors; per-term distances are
      rounded to 9 digits and DECIMAL-summed (order-independent,
      oracle-bitwise), then one per-query top-k.  Carries
      |Q|·|corpus| pair rows through an aggregation — the exchange
      the kernel path removes.

    Either way the scan side never shuffles raw corpus vectors;
    compose with the IVF bucket layout (`build_ivf_index`) for
    sublinear candidate sets.  Returns (query_id, neighbor_id, adist,
    rk) — approximate distance ascending, self-matches excluded; an
    empty query set returns an empty frame on both backends.  The
    kernel carries ids as int64, so it raises ``TypeError`` on a
    non-integral id column before running any job; ``backend="agg"``
    takes any id type.
    """
    if backend not in ("kernel", "agg"):
        raise ValueError(f"backend must be kernel|agg, got {backend!r}")
    if backend == "kernel":
        _require_integral_ids(queries, id_col, corpus)
    books = pq_codebooks(corpus, m, k_sub, id_col, vec_col)
    if refine_iters > 0:  # Lloyd-refined books: better recall, no oracle
        books = refine_pq_codebooks(corpus, books, refine_iters, vec_col=vec_col)
    if backend == "kernel":
        # one all-covering bucket: every query probes bucket 0
        return _adc_scan_topk(
            corpus.select(id_col, vec_col, F.lit(0).alias("bucket")),
            None, books, _collect_queries(queries, id_col, vec_col), k,
            id_col, vec_col,
        )
    dsub = len(books[0][0])
    spark = corpus.sparkSession
    book_rows = [
        (j, c, books[j][c]) for j in range(m) for c in range(k_sub)
    ]
    book_df = spark.createDataFrame(
        book_rows, "j int, code int, cw array<double>"
    )
    qsub = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice(_as_double(F.col(vec_col)), j * dsub + 1, dsub).alias(
                            "qs"
                        ),
                    )
                    for j in range(m)
                ]
            )
        ).alias("p"),
    ).select("query_id", F.col("p.j").alias("j"), F.col("p.qs").alias("qs"))
    codes = pq_encode(corpus, books, id_col, vec_col)
    code_rows = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode("codes").alias("j", "code"),
    )
    term = F.round(_l2sq(F.col("qs"), F.col("cw")), 9).cast("decimal(28,9)")
    scored = (
        code_rows.join(F.broadcast(book_df), ["j", "code"])
        .join(F.broadcast(qsub), "j")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(term).cast("double").alias("adist"))
    )
    return _top_k(scored, k, "adist", "adist", "neighbor_id")


# ----------------------------------------------------------------- IVF+PQ


def _adc_scan_topk(
    candidates: DataFrame,
    cents,
    books,
    q: _Queries,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The narrow ADC kernel: one ``mapInPandas`` pass over candidate
    partitions that (a) assigns each vector to its IVF bucket
    (``cents=None``: the scan already carries a ``bucket`` column — the
    persisted index, or ``pq_topk``'s one all-covering bucket), (b)
    PQ-encodes it (``_pq_codes``), (c) scores it against every query
    whose probe set contains its bucket via that query's ADC lookup
    table, and (d) emits only the partition-local top-k per query.

    ``lut[j, code]`` is ``_pq_nanos`` of the query's RAW j-th subvector
    against codeword ``code``: round-9 terms held as int64 nanos, so
    per-neighbor distances sum as exact integers (order-independent,
    bitwise equal to the oracle's DECIMAL(28,9) term sum).  The ONLY
    exchange after the kernel is the final per-query ranking window
    over ≤ |Q|·k·n_partitions rows — no query×corpus pair rows ever
    move (PLANS.md pins the invariant)."""
    bk = np.asarray(books, dtype=np.float64)  # (m, k_sub, dsub)
    luts = [np.vstack(list(_pq_nanos(v[None, :], bk))).astype(np.int64) for v in q.vecs]
    q_ids, probes = q.ids, q.probes  # the kernel's closure: no raw vectors

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if cents is None:
                bucket = pdf["bucket"].to_numpy(dtype=np.int64)
            else:
                bucket = _nearest_centroid(mat, cents)
            codes = _pq_codes(mat, bk)
            outs = []
            for qid, lut, probe in zip(q_ids, luts, probes):
                cand = np.nonzero(np.isin(bucket, probe) & (ids != qid))[0]
                if not len(cand):
                    continue
                nanos = np.zeros(len(cand), dtype=np.int64)
                for j in range(len(bk)):
                    nanos += lut[j, codes[cand, j]]
                order = np.lexsort((ids[cand], nanos))[:k]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[cand[order]],
                            "adist_nanos": nanos[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    partial = candidates.mapInPandas(
        kernel, schema="query_id long, neighbor_id long, adist_nanos long"
    )
    return _top_k(
        partial,
        k,
        (F.col("adist_nanos") / F.lit(1e9)).alias("adist"),
        "adist_nanos",
        "neighbor_id",
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    k_sub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-pruned PQ search — the scale-safe composition `pq_topk`'s
    docstring names (FAISS's IVFADC, Jégou et al. §IV).

    IVF prunes: each query probes its ``n_probe`` nearest coarse-
    centroid buckets (the `ivf_topk` quantizer, deterministic lowest-id
    seeds), so only ~n_probe/n_centroids of the corpus is scored.  PQ
    compresses: candidates are scored via per-query ADC lookup tables
    over their m codes, never their raw floats.  Everything data-sized
    stays in ONE narrow pass emitting partition-local top-k — the plan
    has exactly one exchange (the final per-query ranking window over
    ≤ |Q|·k·n_partitions rows), versus `pq_topk`'s aggregation that
    carried |Q|·|corpus| pair rows.  At 100 TB, run against the
    bucket-partitioned `build_ivf_index` layout via
    :func:`ivf_pq_index_topk` and the probed-bucket filter becomes
    PartitionFilters — the scan itself is sublinear.

    Distances are bitwise equal to `pq_topk` on shared candidates: the
    same codebooks, the same encode fold, per-term round-to-9 carried
    as exact integer nanos.

    The coarse centroids are the ``n_centroids`` lowest-id corpus
    vectors, so a corpus with fewer vectors than ``n_centroids`` raises
    ``ValueError`` (naming both counts); lower ``n_centroids`` for a
    small corpus.  Ids must be integral (``TypeError`` otherwise), and
    an empty query set returns an empty frame.
    """
    _require_integral_ids(queries, id_col, corpus)
    # ONE seed collect serves both deterministic quantizers: the coarse
    # centroids and the PQ codebooks are both lowest-id corpus vectors
    seeds = _seed_vectors(corpus, max(n_centroids, k_sub), id_col, vec_col)
    if len(seeds) < n_centroids:
        raise ValueError(
            f"ivf_pq_topk: corpus has {len(seeds)} vectors, fewer than "
            f"n_centroids={n_centroids}; lower n_centroids"
        )
    cents = _unit_rows(seeds[:n_centroids])
    books = _books_from_vecs(seeds, m, k_sub)
    if refine_iters > 0:  # Lloyd-refined books: better recall, no oracle
        books = refine_pq_codebooks(corpus, books, refine_iters, vec_col=vec_col)
    # bucket assignment happens inside the kernel (one pass, no extra
    # scan); nothing here pre-filters because the inline path has no
    # bucket column yet — the index path below prunes partitions instead
    return _adc_scan_topk(
        corpus, cents, books,
        _collect_queries(queries, id_col, vec_col, cents, n_probe), k,
        id_col, vec_col,
    )


def _require_integral_ids(queries: DataFrame, id_col: str, corpus=None) -> None:
    """The ADC kernel carries ids as int64: refuse any other id type
    from the schemas alone, before a job runs."""
    from pyspark.sql import types as T

    for what, df in (("queries", queries), ("corpus", corpus)):
        if df is None:
            continue
        dt = df.select(id_col).schema[0].dataType
        if not isinstance(dt, T.IntegralType):
            raise TypeError(
                f"the ADC kernel needs integral ids, but {what}.{id_col} is "
                f"{dt.simpleString()}; use pq_topk(..., backend=\"agg\") "
                "for other id types"
            )


def ivf_pq_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC against a persisted `build_ivf_index` layout: the probed
    buckets become an IN over the partition column (PartitionFilters —
    unprobed bucket directories are never listed or read), then the
    same narrow ADC kernel as :func:`ivf_pq_topk` scores the pruned
    scan.  Query cost tracks |Q| · n_probe · bucket-size, independent
    of corpus size; the PQ books come from the index sidecar."""
    _require_integral_ids(queries, id_col)
    side = _ivf_sidecar(spark, path)
    if "pq_books" not in side:
        raise ValueError(
            "index has no PQ codebooks — rebuild with build_ivf_index(..., pq=True)"
        )
    q = _collect_queries(queries, id_col, vec_col, side["centroids"], n_probe)
    return _adc_scan_topk(
        _probed_buckets(spark, path, q), None, side["pq_books"], q, k,
        "neighbor_id", "cv",
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.5,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    backend: str = "fold",
) -> DataFrame:
    """Semantic (embedding-space) deduplication, SemDeDup-style (Abbas
    et al., "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): cluster with the deterministic coarse
    quantizer, compare pairs ONLY within a cluster, and drop the
    higher id of every pair whose cosine ≥ ``threshold``.

    Scale shape: the pair search is a bucket equi-join (candidates
    ~ sum of squared cluster sizes, never corpus²), the quantizer is
    the shared `ivf_topk` machinery (narrow GEMM assignment pass), and
    the drop set joins back anti-style — no driver-sized state.  The
    lowest-id-wins rule matches `exact_dedup`; for transitive FAMILY
    collapse feed the pairs to `near_dup_clusters` instead.

    Returns (vec_id, bucket, is_kept) for every corpus row.  The whole
    path — lowest-id centroids, cosine, round-9 threshold compare — is
    SQL-replayable (suite row `semantic_dedup`) with the default
    ``backend="fold"``.  ``backend="gemm"`` scores each bucket's pair
    matrix in ONE vectorized NumPy kernel (`applyInPandas` per bucket,
    emitting every row of the bucket with its verdict — one exchange
    and one Python pass, no drop set to join back) instead of the
    expression-fold equi-join — ~3× faster at sf0.1 and
    the form that scales to real cluster sizes; same round-9 threshold
    rule, so the two backends disagree only if a pair's cosine sits
    within a float ulp of the threshold (property-tested equal on the
    fixtures).  The gemm kernel materializes ONE BUCKET per task, so a
    degenerate quantizer (everything in one cluster) concentrates the
    corpus in one task — size ``n_centroids`` so buckets fit executor
    memory, or fall back to ``fold``, whose skewed bucket join AQE
    splits.
    """
    cents = kmeans_centroids(corpus, n_centroids, 0, id_col=id_col, vec_col=vec_col)
    assigned = _assign_buckets(corpus, cents, id_col, vec_col)
    if backend == "gemm":
        thr = float(threshold)

        def bucket_verdicts(key, pdf):
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["cv"]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            sims = (mat / norms) @ (mat / norms).T
            sims = np.floor(sims * 1e9 + 0.5) / 1e9  # round half-up to 9
            order = np.argsort(ids, kind="stable")
            h = (sims >= thr)[np.ix_(order, order)]
            # column j drops if ANY lower-id row i < j hits (strict
            # upper triangle = the fold backend's d1 < d2 pairs)
            drop_mask = np.triu(h, k=1).any(axis=0)
            return pd.DataFrame(
                {
                    id_col: ids[order],
                    "bucket": np.full(len(ids), key[0], dtype=np.int32),
                    "is_kept": ~drop_mask,
                }
            )

        # every row of a bucket leaves its kernel with its verdict: one
        # exchange, one Python pass, no join back onto the assignment
        return assigned.groupBy("bucket").applyInPandas(
            bucket_verdicts, schema=f"{id_col} long, bucket int, is_kept boolean"
        )
    if backend != "fold":
        raise ValueError(f"backend must be fold|gemm, got {backend!r}")
    a = assigned.select(
        F.col("neighbor_id").alias("d1"), "bucket", F.col("cv").alias("v1")
    )
    b = assigned.select(
        F.col("neighbor_id").alias("d2"), "bucket", F.col("cv").alias("v2")
    )
    dropped = (
        a.join(b, "bucket")
        .filter(F.col("d1") < F.col("d2"))
        .filter(
            F.round(cosine(_as_double(F.col("v1")), _as_double(F.col("v2"))), 9)
            >= threshold
        )
        .select("d2")
        .distinct()
    )
    return (
        assigned.join(dropped, assigned["neighbor_id"] == dropped["d2"], "left")
        .select(
            F.col("neighbor_id").alias(id_col),
            "bucket",
            F.col("d2").isNull().alias("is_kept"),
        )
    )


def append_to_ivf_index(
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold a NEW vector batch into a persisted IVF index: the batch is
    assigned against the index's FROZEN centroids (sidecar) and its
    rows append under the existing bucket partitions — embedding-store
    growth costs O(batch), and because assignment is per-vector against
    fixed centroids, a query after append is IDENTICAL to a query
    against an index rebuilt over the union with the same centroids
    (pytest parity).  Centroids are deliberately not re-fit here; when
    drift warrants it, rebuild (the FAISS operational convention).
    """
    side = _ivf_sidecar(vectors.sparkSession, path)
    index_store.append(
        _assign_buckets(vectors, side["centroids"], id_col, vec_col),
        path,
        index_store.IVF,
        side,
    )


def knn_graph_mutual(
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual k-NN graph over an embedding corpus: undirected edges
    (a < b) kept only when EACH endpoint ranks the other in its own
    LSH-bucket top-k — the standard graph-construction step before
    density clustering / community detection over embeddings, and the
    robust variant (mutuality prunes hub edges that asymmetric k-NN
    graphs accumulate around dense regions).

    Built entirely from :func:`ann_lsh_topk` applied corpus-vs-corpus:
    the candidate generation is the bucket equi-join (never a cross
    product — at 100 TB the corpus is stored bucketed by the sign-LSH
    key so the self-join co-locates), and the directed top-k table is
    materialized ONCE (lazy localCheckpoint) then self-joined on the
    reversed pair to test mutuality.  The reversed-pair join keys on
    both ids — uniform, skew-free.  Output carries the cosine and both
    directed ranks; cosine(a,b) and cosine(b,a) are bitwise identical
    (commutative products, same summation order), so the equi-join on
    the pair never drops an edge to floating-point asymmetry.
    """
    topk = ann_lsh_topk(
        corpus, corpus, k=k, n_planes=n_planes, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=False)
    fwd = topk.select(
        F.col("query_id").alias("a"),
        F.col("neighbor_id").alias("b"),
        "cosine",
        F.col("rk").alias("rk_ab"),
    ).filter(F.col("a") < F.col("b"))
    rev = topk.select(
        F.col("neighbor_id").alias("a"),
        F.col("query_id").alias("b"),
        F.col("rk").alias("rk_ba"),
    ).filter(F.col("a") < F.col("b"))
    return fwd.join(rev, ["a", "b"]).select(
        "a", "b", "cosine", "rk_ab", "rk_ba"
    )
