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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


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
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def brute_force_topk_blas(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via vectorized matrix products — the scale path.

    The query matrix (|Q|×d, normalized) is captured into the closure
    (broadcast to every task); each corpus partition computes one
    |part|×|Q| GEMM in NumPy and emits only its **local top-k per
    query** — so the shuffle that follows carries |Q|·k rows per
    partition instead of |Q|·|corpus| scored pairs.  A final per-query
    ranking window over ≤ |Q|·k·n_partitions rows picks the global
    top-k.  This partial-top-k shape is what survives a 100 TB corpus;
    the ``brute_force_topk`` fold variant exists for bitwise oracle
    parity (GEMM sums in a different order, so scores differ in the
    last ulp).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if not q_rows:
        raise ValueError("empty query set")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def local_topk(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ q_mat.T  # |part| × |Q|
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
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


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
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


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
    """
    cents = _coarse_centroids(corpus, n_centroids, refine_iters, id_col, vec_col)
    assigned = _assign_buckets(corpus, cents, id_col, vec_col)
    q_df = _probe_frame(queries, cents, n_probe, id_col, vec_col)
    return _score_probed(q_df, assigned, k)


def _coarse_centroids(corpus, n_centroids, refine_iters, id_col, vec_col):
    """Coarse quantizer: lowest-id seeds, optional Lloyd refinement."""
    import numpy as np

    if refine_iters > 0:
        return kmeans_centroids(
            corpus, n_centroids, iters=refine_iters,
            id_col=id_col, vec_col=vec_col,
        )
    cent_rows = (
        corpus.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
    )
    cents = np.array([r[1] for r in cent_rows], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    return cents


def _assign_buckets(corpus: DataFrame, cents, id_col: str, vec_col: str) -> DataFrame:
    """One narrow GEMM pass: (neighbor_id, bucket, cv)."""
    import numpy as np
    import pandas as pd

    def assign(batches):
        for pdf in batches:
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            bucket = (mat / norms) @ cents.T
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "bucket": bucket.argmax(axis=1).astype(np.int32),
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


def _probe_frame(queries: DataFrame, cents, n_probe: int, id_col: str, vec_col: str) -> DataFrame:
    """Collect the (small-by-contract) query set and expand each query
    to its n_probe nearest centroid buckets: (query_id, bucket, qv)."""
    import numpy as np

    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        raise ValueError("empty query set")
    q_probe = []
    for r in q_rows:
        qv = np.asarray(r[1], dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        order = np.argsort(-(cents @ qv), kind="stable")[:n_probe]
        q_probe.append((int(r[0]), [int(b) for b in order], [float(v) for v in qv]))
    spark = queries.sparkSession
    return spark.createDataFrame(
        [(qid, b, qv) for qid, bs, qv in q_probe for b in bs],
        "query_id long, bucket int, qv array<double>",
    )


def _score_probed(q_df: DataFrame, assigned: DataFrame, k: int) -> DataFrame:
    """Broadcast probe join on the bucket key + per-query top-k window.

    Ranking orders on the cosine ROUNDED to 9 digits (the same rounding
    the oracle comparison applies), so when two neighbors differ only in
    the last ulp — e.g. because this path normalizes qv while an oracle
    evaluates the scale-invariant cosine on the raw vector — the
    deterministic neighbor_id tie-break governs identically in both
    engines instead of flipping rk on float noise.
    """
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
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 9).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
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
    import json

    from ..fsutil import write_text

    cents = _coarse_centroids(corpus, n_centroids, refine_iters, id_col, vec_col)
    assigned = _assign_buckets(corpus, cents, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(path)
    side = {
        "n_centroids": int(cents.shape[0]),
        "dim": int(cents.shape[1]),
        "centroids": cents.tolist(),
    }
    if pq:
        pq_books = pq_codebooks(corpus, pq_m, pq_k_sub, id_col, vec_col)
        if pq_refine_iters > 0:
            pq_books = refine_pq_codebooks(
                corpus, pq_books, pq_refine_iters, vec_col=vec_col
            )
        side["pq_books"] = pq_books
    write_text(
        corpus.sparkSession,
        path.rstrip("/") + "/_ivf_centroids.json",
        json.dumps(side),
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
    |Q| · n_probe · bucket-size, independent of corpus size.
    """
    import json

    import numpy as np

    from ..fsutil import read_text

    cents = np.asarray(
        json.loads(read_text(spark, path.rstrip("/") + "/_ivf_centroids.json"))[
            "centroids"
        ],
        dtype=np.float64,
    )
    q_df = _probe_frame(queries, cents, n_probe, id_col, vec_col)
    probed = sorted({r["bucket"] for r in q_df.select("bucket").distinct().collect()})
    from .dedup import _without_tombstoned

    assigned = _without_tombstoned(
        spark,
        path,
        spark.read.parquet(path).filter(F.col("bucket").isin(probed)),
        "neighbor_id",  # the indexed layout's id column
    )
    return _score_probed(q_df, assigned, k)


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
    """Per-label centroid of the embedding vectors, in fixed-point.

    Floating sums are order-dependent, so a distributed mean would never
    reproduce bitwise across engines or even across runs with different
    partitioning.  Scaling by 2^precision_bits is EXACT in binary FP
    (power-of-two multiply), floor+cast yields exact integers, the sums
    combine associatively (map-side partial agg), and one final double
    division is deterministic.  The quantization error is bounded by
    2^-precision_bits per element — choose bits for the precision the
    downstream consumer needs (IVF coarse centroids need far less than
    20 bits).

    Returns (label, dim, centroid, n).
    """
    scale = float(1 << precision_bits)
    e = corpus.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v"),
    )
    return (
        e.groupBy("label", "dim")
        .agg(
            F.sum(F.floor(F.col("v") * scale).cast("long")).alias("s_fp"),
            F.count("*").alias("n"),
        )
        .select(
            "label",
            "dim",
            (F.col("s_fp") / (F.col("n") * F.lit(scale))).alias("centroid"),
            "n",
        )
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

    Init = the ``n_centroids`` lowest-id vectors (reproducible, no RNG).
    Each iteration: one narrow assignment pass (argmax cosine against
    the broadcast centroids) and one shuffle keyed (bucket, dim) that
    recomputes means in fixed point (floor(v·2^k) — power-of-2 scaling
    keeps the distributed sum exact and order-independent, so the SAME
    input yields the SAME centroids under ANY partitioning; a float sum
    would make clustering runs non-reproducible).  Centroids live on
    the driver between rounds: n_centroids × dim floats, trivially
    collectable at any corpus size.

    Returns a numpy array (n_centroids, dim), L2-normalized.
    """
    import numpy as np
    import pandas as pd

    scale = float(1 << precision_bits)
    seed_rows = (
        corpus.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
    )
    cents = np.array([r[0] for r in seed_rows], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    for _ in range(iters):
        bc = cents  # closure snapshot for this round

        def assign(batches):
            for pdf in batches:
                mat = np.array(list(pdf[vec_col]), dtype=np.float64)
                norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
                bucket = ((mat / norms) @ bc.T).argmax(axis=1).astype(np.int32)
                yield pd.DataFrame({"bucket": bucket, "v": list(pdf[vec_col])})

        assigned = corpus.mapInPandas(assign, schema="bucket int, v array<float>")
        agg = (
            assigned.select(
                "bucket", F.posexplode(_as_double(F.col("v"))).alias("dim", "val")
            )
            .groupBy("bucket", "dim")
            .agg(
                F.sum(F.floor(F.col("val") * scale).cast("long")).alias("s_fp"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new = cents.copy()
        dim = cents.shape[1]
        sums = {}
        for r in agg:
            sums.setdefault(r["bucket"], np.zeros(dim + 1))[r["dim"]] = r["s_fp"] / (
                r["n"] * scale
            )
        for b, vec in sums.items():
            c = vec[:dim]
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
    rows = corpus.orderBy(id_col).limit(k_sub).select(vec_col).collect()
    return _books_from_vecs([r[0] for r in rows], m, k_sub)


def _books_from_vecs(vecs: list, m: int, k_sub: int):
    """Codebooks from already-collected lowest-id vectors (shared with
    ``ivf_pq_topk``, whose coarse quantizer collects the same seed rows
    — one driver job instead of two)."""
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
    import numpy as np
    import pandas as pd

    m, k_sub, dsub = len(books), len(books[0]), len(books[0][0])
    scale = float(1 << precision_bits)
    bk = np.asarray(books, dtype=np.float64)
    for _ in range(iters):
        cur = bk  # closure snapshot for this round

        def assign(batches):
            for pdf in batches:
                x = np.array(list(pdf[vec_col]), dtype=np.float64)
                js, cs, subs = [], [], []
                for j in range(m):
                    xs = x[:, j * dsub : (j + 1) * dsub]
                    d = np.zeros((len(x), k_sub))
                    for t in range(dsub):  # encode-contract fold order
                        diff = xs[:, t : t + 1] - cur[j, :, t][None, :]
                        d += diff * diff
                    d = np.floor(d * 1e9 + 0.5) / 1e9
                    js.append(np.full(len(x), j, dtype=np.int32))
                    cs.append(d.argmin(axis=1).astype(np.int32))
                    subs.append(xs)
                yield pd.DataFrame(
                    {
                        "j": np.concatenate(js),
                        "code": np.concatenate(cs),
                        "sub": [list(r) for r in np.vstack(subs)],
                    }
                )

        assigned = corpus.mapInPandas(
            assign, schema="j int, code int, sub array<double>"
        )
        agg = (
            assigned.select(
                "j", "code", F.posexplode("sub").alias("t", "val")
            )
            .groupBy("j", "code", "t")
            .agg(
                F.sum(F.floor(F.col("val") * scale).cast("long")).alias("s_fp"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new = bk.copy()
        for r in agg:
            new[r["j"], r["code"], r["t"]] = r["s_fp"] / (r["n"] * scale)
        bk = new
    return [
        [[float(v) for v in bk[j, c]] for c in range(k_sub)]
        for j in range(m)
    ]


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
    backend: per-dimension accumulation mirrors the fold's strict
    left-to-right float64 order (np.sum's pairwise blocking would drift
    a ulp and flip round-9 ties), and rounding is explicit half-up
    (np.round is half-even; distances are positive so +0.5-floor is
    exact half-up), with argmin's first-minimum rule matching the
    lowest-code tie-break."""
    import numpy as np
    import pandas as pd

    m, k_sub, dsub = len(books), len(books[0]), len(books[0][0])
    bk = np.asarray(books, dtype=np.float64)  # (m, k_sub, dsub)
    # keep the id column's own type (the expr backend already does) —
    # a string or int id must round-trip unchanged, not be cast to long
    id_type = corpus.schema[id_col].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                d = np.zeros((len(x), k_sub))
                for t in range(dsub):  # strict fold order, see docstring
                    diff = xs[:, t : t + 1] - bk[j, :, t][None, :]
                    d += diff * diff
                d = np.floor(d * 1e9 + 0.5) / 1e9  # round half-up to 9
                codes[:, j] = d.argmin(axis=1)
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
      aggregation computes (``_adc_lut_nanos``), so outputs are
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
        q_ids, probes, luts = _adc_probes(queries, None, books, 1, id_col, vec_col)
        cand = corpus.select(
            id_col, vec_col, F.lit(0).alias("bucket")
        )
        return _adc_scan_topk(
            cand, None, books, probes, luts, q_ids, k, id_col, vec_col,
            assigned_bucket=True,
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
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "adist", "rk")
    )


# ----------------------------------------------------------------- IVF+PQ


def _adc_lut_nanos(books, q_rows, vec_idx: int = 1):
    """Per-query ADC lookup tables in integer NANOS.

    ``lut[qi][j, code]`` = round-half-up-to-9-digits of the squared L2
    between query ``qi``'s j-th RAW subvector and codeword ``code``,
    scaled by 1e9 and held as int64 — so per-neighbor distances sum as
    exact integers (order-independent, bitwise equal to the oracle's
    DECIMAL(28,9) term sum).  The fold over ``dsub`` dimensions runs in
    strict left-to-right order and the rounding is the +0.5-floor
    half-up recipe — both identical to ``_pq_encode_numpy`` (whose
    parity with Spark's ``F.round`` / DuckDB's ``round`` is
    property-tested)."""
    import numpy as np

    m, k_sub, dsub = len(books), len(books[0]), len(books[0][0])
    bk = np.asarray(books, dtype=np.float64)  # (m, k_sub, dsub)
    luts = []
    for r in q_rows:
        qv = np.asarray(r[vec_idx], dtype=np.float64)
        lut = np.zeros((m, k_sub))
        for j in range(m):
            qs = qv[j * dsub : (j + 1) * dsub]
            d = np.zeros(k_sub)
            for t in range(dsub):  # strict fold order
                diff = qs[t] - bk[j, :, t]
                d += diff * diff
            lut[j] = d
        luts.append(np.floor(lut * 1e9 + 0.5).astype(np.int64))
    return luts


def _adc_scan_topk(
    candidates: DataFrame,
    cents,
    books,
    probes: dict,
    luts,
    q_ids,
    k: int,
    id_col: str,
    vec_col: str,
    assigned_bucket: bool,
) -> DataFrame:
    """The narrow ADC kernel: one ``mapInPandas`` pass over candidate
    partitions that (a) assigns each vector to its IVF bucket (skipped
    when the scan already carries a ``bucket`` column — the persisted
    index), (b) PQ-encodes it with the ``_pq_encode_numpy`` fold
    recipe, (c) scores it against every query whose probe set contains
    its bucket via the int-nanos LUT, and (d) emits only the partition-
    local top-k per query.  The ONLY exchange after this is the final
    per-query ranking window over ≤ |Q|·k·n_partitions rows — no
    query×corpus pair rows ever move (the `pq_topk` aggregation this
    replaces shipped |Q|·|corpus| rows; PLANS.md pins the invariant)."""
    import numpy as np
    import pandas as pd

    m, k_sub, dsub = len(books), len(books[0]), len(books[0][0])
    bk = np.asarray(books, dtype=np.float64)
    # cents may be None when the caller pre-assigned buckets (pq_topk's
    # single-bucket kernel path never probes the coarse quantizer)
    ct = None if cents is None else np.asarray(cents, dtype=np.float64)
    probe_sets = {int(q): set(map(int, bs)) for q, bs in probes.items()}

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if assigned_bucket:
                bucket = pdf["bucket"].to_numpy(dtype=np.int64)
            else:
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                bucket = ((mat / norms) @ ct.T).argmax(axis=1)
            codes = np.empty((n, m), dtype=np.int64)
            for j in range(m):
                xs = mat[:, j * dsub : (j + 1) * dsub]
                d = np.zeros((n, k_sub))
                for t in range(dsub):  # strict fold order (encode parity)
                    diff = xs[:, t : t + 1] - bk[j, :, t][None, :]
                    d += diff * diff
                d = np.floor(d * 1e9 + 0.5) / 1e9  # round half-up to 9
                codes[:, j] = d.argmin(axis=1)
            outs = []
            for qi, qid in enumerate(q_ids):
                mask = np.isin(bucket, list(probe_sets[int(qid)]))
                mask &= ids != qid
                cand = np.nonzero(mask)[0]
                if not len(cand):
                    continue
                lut = luts[qi]
                nanos = np.zeros(len(cand), dtype=np.int64)
                for j in range(m):
                    nanos += lut[j, codes[cand, j]]
                take = min(k, len(cand))
                order = np.lexsort((ids[cand], nanos))[:take]
                sel = cand[order]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[sel],
                            "adist_nanos": nanos[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    partial = candidates.mapInPandas(
        kernel, schema="query_id long, neighbor_id long, adist_nanos long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist_nanos").asc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("adist_nanos") / F.lit(1e9)).alias("adist"),
            "rk",
        )
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
    # ONE seed collect serves both deterministic quantizers (r13): the
    # coarse centroids and the PQ codebooks are both derived from the
    # lowest-id corpus vectors, so collecting max(n_centroids, k_sub)
    # rows once replaces two identical driver jobs.
    import numpy as np

    seed_rows = (
        corpus.orderBy(id_col)
        .limit(max(n_centroids, k_sub))
        .select(id_col, vec_col)
        .collect()
    )
    if len(seed_rows) < n_centroids:
        raise ValueError(
            f"ivf_pq_topk: corpus has {len(seed_rows)} vectors, fewer than "
            f"n_centroids={n_centroids}; lower n_centroids"
        )
    cents = np.array(
        [r[1] for r in seed_rows[:n_centroids]], dtype=np.float64
    )
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    books = _books_from_vecs([r[1] for r in seed_rows], m, k_sub)
    if refine_iters > 0:  # Lloyd-refined books: better recall, no oracle
        books = refine_pq_codebooks(corpus, books, refine_iters, vec_col=vec_col)
    q_ids, probes, luts = _adc_probes(
        queries, cents, books, n_probe, id_col, vec_col
    )
    # bucket assignment happens inside the kernel (one pass, no extra
    # scan); nothing here pre-filters because the inline path has no
    # bucket column yet — the index path below prunes partitions instead
    return _adc_scan_topk(
        corpus, cents, books, probes, luts, q_ids, k, id_col, vec_col,
        assigned_bucket=False,
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


def _adc_probes(queries, cents, books, n_probe, id_col, vec_col):
    """Shared IVFADC query prep: collect the (small-by-contract) query
    set, rank its ``n_probe`` nearest coarse buckets (stable argsort,
    lowest-cid tie-break — the oracle's row_number order), and build
    the per-query integer-nanos ADC LUTs.  ``cents=None`` is one
    all-covering bucket 0.  An empty query set yields empty probes."""
    import numpy as np

    ct = None if cents is None else np.asarray(cents, dtype=np.float64)
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [int(r[0]) for r in q_rows]
    probes = {}
    for qid, r in zip(q_ids, q_rows):
        if ct is None:
            probes[qid] = [0]
            continue
        qv = np.asarray(r[1], dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        order = np.argsort(-(ct @ qv), kind="stable")[:n_probe]
        probes[qid] = [int(b) for b in order]
    return q_ids, probes, _adc_lut_nanos(books, q_rows)


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
    import json

    import numpy as np

    from ..fsutil import read_text

    _require_integral_ids(queries, id_col)
    side = json.loads(
        read_text(spark, path.rstrip("/") + "/_ivf_centroids.json")
    )
    cents = np.asarray(side["centroids"], dtype=np.float64)
    if "pq_books" not in side:
        raise ValueError(
            "index has no PQ codebooks — rebuild with build_ivf_index(..., pq=True)"
        )
    books = side["pq_books"]
    q_ids, probes, luts = _adc_probes(
        queries, cents, books, n_probe, id_col, vec_col
    )
    probed = sorted({b for bs in probes.values() for b in bs})
    from .dedup import _without_tombstoned

    candidates = _without_tombstoned(
        spark,
        path,
        spark.read.parquet(path).filter(F.col("bucket").isin(probed)),
        "neighbor_id",  # the indexed layout's id column
    )
    return _adc_scan_topk(
        candidates, cents, books, probes, luts, q_ids, k,
        "neighbor_id", "cv", assigned_bucket=True,
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
    cents = _coarse_centroids(corpus, n_centroids, 0, id_col, vec_col)
    assigned = _assign_buckets(corpus, cents, id_col, vec_col)
    if backend == "gemm":
        import numpy as np
        import pandas as pd

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
    import json

    import numpy as np

    from ..fsutil import read_text

    spark = vectors.sparkSession
    side = json.loads(
        read_text(spark, path.rstrip("/") + "/_ivf_centroids.json")
    )
    cents = np.asarray(side["centroids"], dtype=np.float64)
    assigned = _assign_buckets(vectors, cents, id_col, vec_col)
    assigned.write.mode("append").partitionBy("bucket").parquet(path)


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
