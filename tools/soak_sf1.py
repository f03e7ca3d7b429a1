#!/usr/bin/env python
"""sf0.1 → sf1 scaling soak: each row timed at 1× and 10× data.

The 100 TB arguments in SCALE.md rest on sf0.1 measurements plus plan
shape; this harness takes the one order-of-magnitude step that converts
the strongest claims from argument to record:

1. Generates an sf1 ``documents`` (50 000 rows) / ``embeddings``
   (20 000 rows) under ``.localdata/sf1/`` by resampling the DRIVER's
   sf0.1 empirical distributions (vocabulary frequencies, per-doc word
   counts, lang/source mix, exact-dup rate; per-label embedding
   centroids + residual spread, re-normalized) — same statistical
   character, 10× the mass, deterministic (seed 1042).  The driver's
   own testdata is read-only and stops at sf0.1.
2. Times each row at both scales (an untimed warm pass, then 3
   samples, min-of, per-sample JVM GC — the bench.py protocol) and
   prints one JSON line with the measured time ratios.

Run:  python tools/soak_sf1.py [ROW ...]   (or ``--gen-only``)

A ROW is any suite query (run at sf0.1 and sf1 unchanged) or one of the
built-in rows, which take precedence over a suite row of the same name;
with no ROW the built-in rows run.  Scaling-parameter policy (the
design-faithful measurement): rows whose cost model is Σ(bucket²) keep
the EXPECTED BUCKET SIZE constant as the corpus grows —
``semantic_dedup_gemm`` runs k = n/125 clusters (16 at sf0.1, 160 at
sf1), exactly how a production deployment holds cluster size at the
SemDeDup paper's operating point; ``dedup_minhash_lsh`` runs the
library-default (xxhash64 scale) backend.  The two volume rows
(``bulk_upscale15_write``, ``zarr3_4x_shard_export``) scale by voxels
(8× = 2× per axis), so their ratio column is per-8×-data.

Run it ALONE (no concurrent pytest/bench — the perf-pitfalls memory).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".localdata", "sf1")
SEED = 1042


def generate_sf1() -> None:
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(SF1, exist_ok=True)
    doc_path = os.path.join(SF1, "documents.parquet")
    emb_path = os.path.join(SF1, "embeddings.parquet")
    if os.path.exists(doc_path) and os.path.exists(emb_path):
        print(f"sf1 data already present in {SF1}", file=sys.stderr)
        return
    rng = np.random.default_rng(SEED)

    src = duckdb.sql(
        f"select * from '{SF01}/documents.parquet' order by doc_id"
    ).df()
    token_lists = [t.split() for t in src["text"]]
    vocab, freq = np.unique(
        np.concatenate([np.array(t) for t in token_lists]), return_counts=True
    )
    p = freq / freq.sum()
    wc = np.array([len(t) for t in token_lists])
    n_docs = 10 * len(src)
    dup_rate = 1.0 - src["text"].nunique() / len(src)

    wcs = rng.choice(wc, n_docs)
    flat = rng.choice(vocab, int(wcs.sum()), p=p)
    bounds = np.cumsum(wcs)[:-1]
    texts = [" ".join(w) for w in np.split(flat, bounds)]
    n_dup = int(round(dup_rate * n_docs))
    for i in rng.choice(np.arange(1, n_docs), n_dup, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    langs = rng.choice(
        src["lang"].value_counts(normalize=True).index.to_numpy(),
        n_docs,
        p=src["lang"].value_counts(normalize=True).to_numpy(),
    )
    sources = rng.choice(
        src["source"].value_counts(normalize=True).index.to_numpy(),
        n_docs,
        p=src["source"].value_counts(normalize=True).to_numpy(),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(sources, pa.string()),
                "n_chars": pa.array(
                    np.array([len(t) for t in texts], np.int64), pa.int64()
                ),
            }
        ),
        doc_path,
    )

    edf = duckdb.sql(
        f"select * from '{SF01}/embeddings.parquet' order by vec_id"
    ).df()
    emb = np.stack(edf["embedding"].to_numpy())
    labels = edf["label"].to_numpy()
    out_vecs, out_labels = [], []
    for lab in np.unique(labels):
        member = emb[labels == lab]
        mu = member.mean(axis=0)
        sd = member.std(axis=0)
        k = 10 * len(member)
        sample = mu[None] + rng.standard_normal((k, emb.shape[1])) * sd[None]
        sample /= np.linalg.norm(sample, axis=1, keepdims=True)
        out_vecs.append(sample.astype(np.float32))
        out_labels.append(np.full(k, lab, np.int32))
    vecs = np.concatenate(out_vecs)
    labs = np.concatenate(out_labels)
    order = rng.permutation(len(vecs))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
                "embedding": pa.array(
                    list(vecs[order]), pa.list_(pa.float32())
                ),
                "label": pa.array(labs[order], pa.int32()),
            }
        ),
        emb_path,
    )
    print(f"generated sf1 ({n_docs} docs, {len(vecs)} vecs)", file=sys.stderr)


def main() -> None:
    generate_sf1()
    if "--gen-only" in sys.argv:
        return
    names = [a for a in sys.argv[1:] if not a.startswith("--")]

    from pyspark.sql import functions as F

    from atlas_upscaling_dask_spark import suite
    from atlas_upscaling_dask_spark.extensions.dedup import minhash_lsh_pairs
    from atlas_upscaling_dask_spark.extensions.similarity import semantic_dedup
    from atlas_upscaling_dask_spark.operators.upscale import upscale_chunks
    from atlas_upscaling_dask_spark.session import get_spark
    from atlas_upscaling_dask_spark.sinks.writer import write_volume
    from atlas_upscaling_dask_spark.sinks.zarr3 import write_zarr3
    from atlas_upscaling_dask_spark.tables import load_table
    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    spark = get_spark("soak_sf1")
    spark.range(1_000_000).agg(F.sum("id")).collect()

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def suite_row(name):
        q = suite.QUERIES[name]
        return (lambda: force(q(spark, SF01)), lambda: force(q(spark, SF1)), 10)

    def vol_row(scale_axes: int):
        # x15 chunk-packed upscale + write of the cached (114,160,176)
        # volume (scale_axes=2: 8x the voxels)
        meta = VolumeMeta(114 * scale_axes, 160 * scale_axes, 176 * scale_axes)
        chunks = synthetic_chunks(spark, meta, chunk=(8, 32, 44)).cache()
        big = VolumeMeta(meta.dim_z * 15, meta.dim_y * 15, meta.dim_x * 15)
        out_dir = tempfile.mkdtemp(prefix=f"x15_{scale_axes}x_", dir=scratch)
        return lambda: write_volume(
            upscale_chunks(chunks, 15, codec="zstd"),
            out_dir, big, scale=15, compressor="none",
        )

    def zarr3_row(scale_axes: int):
        # the bench's 2.46 GB (912,640,1056) shape, same chunk and shard
        # geometry (scale_axes=2: 8x the shards, same one-shard-in-memory
        # bound); the store is removed, untimed, before each sample
        meta = VolumeMeta(912 * scale_axes, 640 * scale_axes, 1056 * scale_axes)
        chunks = synthetic_chunks(spark, meta, chunk=(57, 80, 132))
        path = os.path.join(scratch, f"z3_{scale_axes}x.zarr")

        def run():
            write_zarr3(chunks, path, meta, shard=(2, 2, 2))

        run.reset = lambda: shutil.rmtree(path, ignore_errors=True)
        return run

    docs = {sf: load_table(spark, sf, "documents") for sf in (SF01, SF1)}
    emb = {sf: load_table(spark, sf, "embeddings") for sf in (SF01, SF1)}
    # name -> (small run, big run, data ratio); built-ins take
    # precedence over suite rows of the same name
    builtin = {
        "prepare_training_set": lambda: suite_row("prepare_training_set"),
        "dedup_minhash_lsh": lambda: (
            lambda: force(minhash_lsh_pairs(docs[SF01], use_dictionary=False)),
            lambda: force(minhash_lsh_pairs(docs[SF1], use_dictionary=False)),
            10,
        ),
        "setsim_containment_join": lambda: suite_row("setsim_containment_join"),
        "semantic_dedup_gemm": lambda: (
            lambda: force(semantic_dedup(emb[SF01], 0.3, 16, backend="gemm")),
            lambda: force(semantic_dedup(emb[SF1], 0.3, 160, backend="gemm")),
            10,
        ),
        "bulk_upscale15_write": lambda: (vol_row(1), vol_row(2), 8),
        "zarr3_4x_shard_export": lambda: (zarr3_row(1), zarr3_row(2), 8),
    }
    unknown = [n for n in names if n not in builtin and n not in suite.QUERIES]
    if unknown:
        raise SystemExit(f"unknown rows: {unknown}")

    def timed(fn, runs: int = 3) -> list[float]:
        reset = getattr(fn, "reset", lambda: None)  # untimed cleanup
        fn()  # untimed warm pass
        out = []
        for _ in range(runs):
            reset()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            fn()
            out.append(round(time.perf_counter() - t0, 3))
        reset()
        return out

    results: dict[str, dict] = {}
    scratch = tempfile.mkdtemp(prefix="soak_sf1_")
    try:
        for name in names or builtin:
            small, big, data_ratio = (
                builtin[name]() if name in builtin else suite_row(name)
            )
            s = timed(small)
            b = timed(big)
            results[name] = {
                "sf0.1_sec": min(s),
                "sf1_sec": min(b),
                "data_ratio": data_ratio,
                "time_ratio": round(min(b) / min(s), 2),
                "spread": {"sf0.1": s, "sf1": b},
            }
            print(f"{name}: {min(s)} -> {min(b)} ({results[name]['time_ratio']}x)",
                  file=sys.stderr)
    finally:
        spark.catalog.clearCache()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"soak": results}, sort_keys=True))


if __name__ == "__main__":
    main()
