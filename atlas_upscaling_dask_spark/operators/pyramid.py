"""T5 — multiscale pyramid by stride-2 decimation.

Reference semantics (``upscale_streaming_enhance.py:125-139``): level i
is every 2nd voxel of level i-1 on each axis (``prev[::2,::2,::2]``) —
*decimation*, never averaging, because labels are categorical.

Spark-first: a decimation level is a filter + coordinate rescale —
a narrow transform with full predicate pushdown.  ``build_pyramid``
stacks the levels into one DataFrame with a ``level`` column (the
write path partitions by it), deriving level i from level i-1 so the
base is computed once — deliberately NOT replicating the reference's
per-level recompute of the whole upscale graph (SURVEY.md §4.3.1).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..volume import map_chunks


def decimate(voxels: DataFrame, stride: int = 2) -> DataFrame:
    """One decimation step: keep voxels whose coords are ≡0 (mod stride),
    rescaling coordinates.  ``level1[z,y,x] == level0[stride*z, ...]``."""
    s = F.lit(stride)
    return voxels.filter(
        (F.col("z") % s == 0) & (F.col("y") % s == 0) & (F.col("x") % s == 0)
    ).select(
        (F.col("z") / s).cast("long").alias("z"),
        (F.col("y") / s).cast("long").alias("y"),
        (F.col("x") / s).cast("long").alias("x"),
        "label",
    )


def decimate_chunks(chunks: DataFrame, stride: int = 2) -> DataFrame:
    """One decimation step on the chunk-packed path — ZERO shuffle.

    Each chunk keeps the voxels whose GLOBAL coordinates are ≡0 (mod
    stride): a pure per-chunk NumPy stride view ``block[o_z::s, o_y::s,
    o_x::s]`` where ``o = (-origin) mod s`` aligns the local view to the
    global lattice, plus an origin remap ``ceil(origin / s)``.  Chunk
    grid keys are unchanged (extents shrink by ~s); chunks that contain
    no lattice point are dropped.  This is the bulk twin of
    :func:`decimate` — semantics of ``prev[::2,::2,::2]``
    (upscale_streaming_enhance.py:125-139) — and the primitive that
    makes full-volume pyramids feasible at 100 TB: the COO variant
    would explode every voxel to a 28 B row first; this one never
    leaves the 4 B/voxel packed representation and needs no exchange
    at all (each output chunk is a function of exactly one input
    chunk).
    """
    if stride < 2:
        raise ValueError(f"stride must be >= 2, got {stride}")
    s = stride

    def decimate_block(key, origin, block):
        oz, oy, ox = off = tuple((-o) % s for o in origin)
        if any(f >= e for f, e in zip(off, block.shape)):
            return  # chunk holds no lattice point
        yield (
            key,
            tuple((o + f) // s for o, f in zip(origin, off)),
            block[oz::s, oy::s, ox::s],
        )

    return map_chunks(chunks, decimate_block)


def downsample_mode_chunks(chunks: DataFrame, stride: int = 2) -> DataFrame:
    """Majority-vote downsampling on the chunk-packed path — ZERO
    shuffle when stride³ blocks are chunk-aligned (``origin % stride ==
    0`` and ``stride | extent`` on every axis, which
    :func:`..volume.choose_chunks` geometries satisfy for stride 2).

    Same semantics as :func:`downsample_mode` (most frequent label per
    stride³ block, ties → smallest label): each block's votes are
    counted with one vectorized pass — sort the s³ candidates per
    block, count equal values by comparison against each sorted column,
    take the first argmax (sorted order makes "first max" = "smallest
    label on tie").  The COO variant pays two key shuffles; this one
    pays none, because a chunk-aligned block never straddles chunks.
    """
    if stride < 2:
        raise ValueError(f"stride must be >= 2, got {stride}")
    s = stride

    def mode_block(key, origin, block):
        (z0, y0, x0), (dz, dy, dx) = origin, block.shape
        if z0 % s or y0 % s or x0 % s or dz % s or dy % s or dx % s:
            raise ValueError(
                "downsample_mode_chunks needs stride-aligned chunks "
                f"(origin ({z0},{y0},{x0}) extent ({dz},{dy},{dx}) "
                f"vs stride {s}); rechunk first"
            )
        nz, ny, nx = dz // s, dy // s, dx // s
        votes = (
            block.reshape(nz, s, ny, s, nx, s)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(-1, s**3)
        )
        srt = np.sort(votes, axis=1)
        counts = np.empty_like(srt, dtype=np.int16)
        for j in range(s**3):
            counts[:, j] = (srt == srt[:, j : j + 1]).sum(axis=1)
        mode = srt[np.arange(srt.shape[0]), np.argmax(counts, axis=1)]
        yield key, (z0 // s, y0 // s, x0 // s), mode.reshape(nz, ny, nx)

    return map_chunks(chunks, mode_block)


def build_pyramid(voxels: DataFrame, levels: int, cache_base: bool = True) -> DataFrame:
    """Stack `levels` pyramid levels (level 0 = input) into one frame.

    The base is cached before deriving levels so the upstream plan runs
    once — the fix for the reference's per-level recompute
    (upscale_streaming_enhance.py:134-138 slices the *lazy* base, so
    each ``da.store`` re-executes the whole upscale chain).
    """
    if levels < 1:
        raise ValueError("levels must be >= 1")
    base = voxels
    if cache_base and levels > 1:
        base = base.cache()
    out = base.withColumn("level", F.lit(0))
    cur = base
    for i in range(1, levels):
        cur = decimate(cur, 2)
        out = out.unionByName(cur.withColumn("level", F.lit(i)))
    return out


def pyramid_scales(
    spacing: tuple[float, float, float], scale: int, levels: int
) -> list[tuple[float, float, float]]:
    """Per-level coordinate transforms for multiscale metadata.

    Mirrors the scale math of ``upscale_streaming_enhance.py:229-243``:
    level i spacing = base_spacing / scale * 2**i on each axis.
    """
    return [
        tuple(sp / scale * (2**i) for sp in spacing)  # type: ignore[misc]
        for i in range(levels)
    ]


def downsample_mode(voxels: DataFrame, stride: int = 2) -> DataFrame:
    """Majority-vote downsampling: each stride³ block votes, the most
    frequent label wins (ties → smallest label, deterministic).

    The label-safe alternative to stride decimation (``decimate``):
    decimation samples one corner voxel and can drop thin structures
    entirely; the mode keeps the dominant region per block.  Two
    shuffles: block-label counting (partial-aggregated map-side) and
    the per-block argmax window — both on the block key, so AQE can
    pipeline them.  Never averages: interpolation is forbidden for
    categorical labels (reference README.md:32).
    """
    from pyspark.sql import Window

    if stride < 2:
        raise ValueError(f"stride must be >= 2, got {stride}")
    s = F.lit(stride)
    counts = voxels.groupBy(
        (F.col("z") / s).cast("long").alias("z"),
        (F.col("y") / s).cast("long").alias("y"),
        (F.col("x") / s).cast("long").alias("x"),
        "label",
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("z", "y", "x").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("z", "y", "x", "label")
    )
