"""The composed enhance pipeline on the chunk-packed path.

Reference semantics (``upscale_streaming_enhance.py:348-364``): upscale
×s (``da.repeat`` ×3) → optional outline (``apply_outline``, torus
``da.roll`` neighbors) → stride-2 decimation pyramid
(``build_pyramid``) → per-level chunked write.  This module composes
the round-3 chunk-packed kernels into that exact workload so the WHOLE
pipeline — not just the upscale step — runs at 4 B/voxel with the
minimum possible data movement:

* upscale: narrow ``mapInArrow`` (zero exchanges);
* outline: ONE halo exchange (faces + core on the chunk key);
* each pyramid level: zero exchanges (per-chunk stride view);
* write: the level-partitioned layout writers already use.

``write_enhance_pyramid`` derives level *i* from level *i−1*'s WRITTEN
table rather than slicing a lazy base — the at-scale form of the K4
recompute fix (SURVEY.md §4.3.1: the reference re-executes the whole
upscale graph once per level; caching fixes it in memory, disk staging
fixes it at volumes that don't fit the cluster's storage memory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..volume import VolumeMeta


def enhance_chunks(
    chunks: DataFrame,
    scale: int = 1,
    outline: bool = True,
    levels: int = 1,
    wrap: bool = True,
    codec: str | None = None,
    cache_base: bool = True,
) -> DataFrame:
    """One-frame form: CHUNK_SCHEMA + ``level`` column, level 0 = the
    (upscaled, optionally outlined) base, level i = stride-2 decimation
    of level i−1.  ``wrap`` defaults to True — the reference's
    ``da.roll`` torus outline is what the enhance script actually
    computes.  The base is cached before levels derive from it unless
    the caller stages levels through disk (``write_enhance_pyramid``).
    """
    from .outline import outline_chunks
    from .pyramid import decimate_chunks
    from .upscale import upscale_chunks

    if levels < 1:
        raise ValueError("levels must be >= 1")
    base = chunks
    if scale > 1:
        base = upscale_chunks(base, scale, codec=codec)
    if outline:
        base = outline_chunks(base, wrap=wrap, codec=codec)
    if cache_base and levels > 1:
        base = base.cache()
    out = base.withColumn("level", F.lit(0).cast("int"))
    cur = base
    for i in range(1, levels):
        cur = decimate_chunks(cur, 2)
        out = out.unionByName(cur.withColumn("level", F.lit(i).cast("int")))
    return out


def write_enhance_pyramid(
    chunks: DataFrame,
    path: str,
    meta: VolumeMeta,
    scale: int = 1,
    outline: bool = True,
    levels: int = 1,
    wrap: bool = True,
    codec: str | None = "zstd",
    compressor: str = "none",
) -> None:
    """Disk-staged enhance write: level 0 (upscale→outline) lands as a
    ``cz``-partitioned parquet table at ``path/level=0``; each further
    level is derived by READING the previous level back and decimating
    — zero recompute of the upstream graph, bounded memory, and each
    derivation is the zero-shuffle chunk kernel.  ``meta`` describes
    the INPUT volume; the sidecar records output dims and per-level
    spacing (upscale_streaming_enhance.py:229-243 transform).

    ``codec`` compresses payloads in-worker (Blosc analog); parquet
    ``compressor`` defaults to none so bytes aren't compressed twice.
    """
    import os

    from ..sinks.writer import COMPRESSORS, write_sidecar
    from ..operators.pyramid import decimate_chunks, pyramid_scales
    from .outline import outline_chunks
    from .upscale import upscale_chunks

    if levels < 1:
        raise ValueError("levels must be >= 1")
    if compressor not in COMPRESSORS:
        raise ValueError(f"compressor must be one of {sorted(COMPRESSORS)}")
    spark = chunks.sparkSession

    base = chunks
    if scale > 1:
        base = upscale_chunks(base, scale, codec=codec)
    if outline:
        base = outline_chunks(base, wrap=wrap, codec=codec)

    cur = base
    for i in range(levels):
        lvl_dir = os.path.join(path, f"level={i}")
        (
            cur.write.mode("overwrite")
            .option("compression", COMPRESSORS[compressor])
            .partitionBy("cz")
            .parquet(lvl_dir)
        )
        if i + 1 < levels:
            cur = decimate_chunks(spark.read.parquet(lvl_dir), 2)

    out_meta = VolumeMeta(
        meta.dim_z * scale,
        meta.dim_y * scale,
        meta.dim_x * scale,
        spacing_z=meta.spacing_z / scale,
        spacing_y=meta.spacing_y / scale,
        spacing_x=meta.spacing_x / scale,
        element_type=meta.element_type,
        source=meta.source,
    )
    scales = pyramid_scales(
        (out_meta.spacing_z, out_meta.spacing_y, out_meta.spacing_x), 1, levels
    )
    write_sidecar(
        spark,
        path,
        out_meta,
        scale=scale,
        outline=outline,
        compressor=compressor,
        payload_codec=codec or "raw",
        multiscales=[
            {"level": i, "spacing_zyx_um": list(s)} for i, s in enumerate(scales)
        ],
        image_label=True,
    )


def update_pyramid_levels(
    spark,
    path: str,
    delta: DataFrame,
    levels: int,
    compressor: str = "none",
) -> None:
    """Incremental pyramid maintenance: fold UPDATED level-0 chunks into
    a disk-staged pyramid (the ``write_enhance_pyramid`` layout) without
    recomputing untouched data — the CDC story for derived volume
    products.

    Works because ``decimate_chunks`` is strictly chunk-local and
    key-preserving: an updated level-0 chunk affects exactly the chunk
    with the SAME grid key at every level, so the delta's key set IS
    the invalidation set all the way up.  Per level: the affected
    ``cz`` slab partitions are read back (partition-pruned scan),
    unchanged chunks of those slabs are retained via an anti-join on
    the chunk key, and the slabs are replaced with DYNAMIC partition
    overwrite (untouched ``cz`` directories are never rewritten); the
    delta then decimates (zero shuffle) to become the next level's
    delta.  Cost tracks the DELTA, not the volume: at 100 TB a
    single-chunk update rewrites one slab per level.

    Caveat (documented contract): ``delta`` must already be the
    RE-DERIVED level-0 chunks.  For outline-enhanced pyramids a source
    edit also changes its 6 neighbors' outlines, so the caller passes
    the re-outlined delta INCLUDING that 1-chunk halo ring (the
    halo-exchange kernel computes it from delta ∪ 2-ring source
    chunks); for plain pyramids the delta is just the changed chunks.
    """
    import os

    from ..sinks.writer import COMPRESSORS
    from ..operators.pyramid import decimate_chunks

    if levels < 1:
        raise ValueError("levels must be >= 1")
    if compressor not in COMPRESSORS:
        raise ValueError(f"compressor must be one of {sorted(COMPRESSORS)}")
    key = ["cz", "cy", "cx"]
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        cur = delta
        for i in range(levels):
            lvl_dir = os.path.join(path, f"level={i}")
            # the affected slab set is small by contract (it IS the delta)
            czs = [r["cz"] for r in cur.select("cz").distinct().collect()]
            if not czs:
                break
            old = spark.read.parquet(lvl_dir).filter(F.col("cz").isin(czs))
            keep = old.join(cur.select(*key), key, "left_anti")
            new_slabs = keep.unionByName(cur.select(*old.columns))
            (
                new_slabs.write.mode("overwrite")
                .option("compression", COMPRESSORS[compressor])
                .partitionBy("cz")
                .parquet(lvl_dir)
            )
            if i + 1 < levels:
                cur = decimate_chunks(
                    spark.read.parquet(lvl_dir).join(cur.select(*key), key, "left_semi"),
                    2,
                )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
