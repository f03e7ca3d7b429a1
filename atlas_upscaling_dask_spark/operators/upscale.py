"""T1/T2/T3 — nearest-neighbor upscale, floor-resize, axis permutation.

T1 is the reference's flagship: integer nearest-neighbor upscale with
label preservation, ``out[i,j,k] = in[i//s, j//s, k//s]``
(``upscale.py:15-20`` — three ``da.repeat`` calls; also
``upscale_streaming.py:94-99``).  Interpolation is forbidden: labels
are categorical region IDs (reference README.md:32).

Spark-first design:

* **COO path** (`upscale_coo`): three ``explode(sequence(...))`` —
  a *narrow* transform (rows grow in place, zero shuffle), matching the
  reference's embarrassingly-parallel chunk tasks.  Catalyst fuses the
  explodes into one whole-stage-codegen'd generate chain.
* **Chunk path** (`upscale_chunks`): per-chunk vectorized
  ``np.repeat`` ×3 inside ``mapInPandas`` — 4 B/voxel stays packed,
  which is the only way the ×15 job (1 TB logical output,
  BASELINE.md) stays feasible; also narrow (each input chunk maps to
  exactly one s³-larger output chunk).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..volume import map_chunks
from .relational import _ints


def upscale_coo(voxels: DataFrame, scale: int) -> DataFrame:
    """Nearest-neighbor upscale of a COO volume by integer ``scale``.

    Semantics of ``upscale.py:15-20``: every voxel becomes an s×s×s
    block; labels preserved exactly.  Narrow (no shuffle): each row
    yields s³ rows in place.
    """
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    s = F.lit(scale)
    offs = F.sequence(F.lit(0), F.lit(scale - 1))
    return (
        voxels.select("z", "y", "x", "label", F.explode(offs).alias("oz"))
        .select("z", "y", "x", "label", "oz", F.explode(offs).alias("oy"))
        .select("z", "y", "x", "label", "oz", "oy", F.explode(offs).alias("ox"))
        .select(
            (F.col("z") * s + F.col("oz")).alias("z"),
            (F.col("y") * s + F.col("oy")).alias("y"),
            (F.col("x") * s + F.col("ox")).alias("x"),
            F.col("label"),
        )
    )


def upscale_chunks(chunks: DataFrame, scale: int, codec: str | None = None) -> DataFrame:
    """Nearest-neighbor upscale on the chunk-packed path.

    Each chunk row maps to one output chunk row with an s³-larger
    payload via vectorized ``np.repeat`` on all three axes — the exact
    kernel shape of ``upscale_streaming.py:94-99``, but per Spark
    partition instead of per Dask task.  Narrow: no shuffle; output
    chunk grid coordinates stay identical, origins/extents scale by s.
    ``mapInArrow`` (not pandas) keeps the multi-MB payloads out of
    Python object land — measured ~5× on the bulk benchmark.

    The replicate kernel is a single broadcast-view + reshape copy
    (2.6× faster than three chained ``np.repeat`` at large scales —
    one memory pass instead of three materialized intermediates).

    ``codec`` in {'zlib','lz4','zstd'} compresses each output payload
    inside the worker before it crosses the Arrow boundary — the
    reference's Blosc-in-worker pattern (upscale_streaming.py:103-108).
    At ×15 the raw output is 3375× the input; label volumes compress
    ~100×, so this turns a socket-bound 0.3 GB/s pipeline into a
    compute-bound multi-GB/s one.  'zstd' is the closest analog of the
    reference's Blosc zstd clevel 5 and ~7× faster than 'zlib' here.
    Downstream readers decode via the ``codec`` column.
    """
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")

    def up(key, origin, block):
        # reshape of the broadcast view materializes the s³ output in
        # ONE memory pass; the codecs consume the array via the buffer
        # protocol (no tobytes copy on compress)
        dz, dy, dx = block.shape
        yield key, tuple(o * scale for o in origin), np.broadcast_to(
            block[:, None, :, None, :, None], (dz, scale, dy, scale, dx, scale)
        ).reshape(dz * scale, dy * scale, dx * scale)

    return map_chunks(chunks, up, codec)


def resize_floor(
    voxels: DataFrame,
    src_shape: tuple[int, int, int],
    target_shape: tuple[int, int, int],
) -> DataFrame:
    """T2 — non-integer nearest resize to an arbitrary target shape.

    Semantics of ``anno_upsampling.py:60-67,90-98`` (PIL ``Image.NEAREST``
    per slice): target voxel ``t`` reads source voxel
    ``floor(t * src_dim / target_dim)`` on each axis independently.

    Spark-first: generate the target coordinate grid with ``spark.range``
    cross-products, compute the floor-mapped source coordinates, and
    equi-join back to the source volume on ``(z, y, x)``.  The join is
    the unavoidable data movement (a gather); it shuffles both sides on
    the coordinate key and AQE handles balance.
    """
    sz, sy, sx = src_shape
    tz, ty, tx = target_shape
    spark = voxels.sparkSession
    grid = (
        spark.range(tz)
        .select(F.col("id").alias("tz"))
        .crossJoin(spark.range(ty).select(F.col("id").alias("ty")))
        .crossJoin(spark.range(tx).select(F.col("id").alias("tx")))
        .select(
            "tz",
            "ty",
            "tx",
            F.floor(F.col("tz") * sz / tz).alias("sz_"),
            F.floor(F.col("ty") * sy / ty).alias("sy_"),
            F.floor(F.col("tx") * sx / tx).alias("sx_"),
        )
    )
    return grid.join(
        voxels,
        (grid.sz_ == voxels.z) & (grid.sy_ == voxels.y) & (grid.sx_ == voxels.x),
        "inner",
    ).select(
        F.col("tz").alias("z"),
        F.col("ty").alias("y"),
        F.col("tx").alias("x"),
        "label",
    )


def rotate90(voxels: DataFrame, axes: tuple[str, str] = ("z", "y")) -> DataFrame:
    """T3 — virtual rotation (``np.rot90``, anno_upsampling.py:84,100).

    In the relational encoding a rotation is a pure column permutation —
    a zero-cost projection.  The reference needed real rotations only
    because its resize kernel was 2D; kept here as the coordinate-
    permutation op for parity.
    """
    a, b = axes
    mapping = {a: b, b: a}
    cols = [F.col(c).alias(mapping.get(c, c)) for c in ("z", "y", "x")]
    return voxels.select(*cols, F.col("label")).select("z", "y", "x", "label")


def point_lookup_upscaled(
    voxels: DataFrame, scale: int, z: int, y: int, x: int
) -> DataFrame:
    """Q1-after-T1 pushdown: ``up[z,y,x] == orig[z//s, y//s, x//s]``.

    The algebraic identity behind verify_labels.py:21, applied as a
    rewrite (SURVEY.md §7.2): a point query against an upscaled volume
    never materializes the upscale — it reads ONE source voxel and
    relabels the coordinates.  At 100 TB this is the difference between
    a partition-pruned single-chunk read and an s³-times-larger scan.
    """
    scale, z, y, x = _ints(scale, z, y, x)
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    hit = voxels.filter(
        f"z = {z // scale} AND y = {y // scale} AND x = {x // scale}"
    )
    return hit.selectExpr(
        f"CAST({z} AS BIGINT) AS z",
        f"CAST({y} AS BIGINT) AS y",
        f"CAST({x} AS BIGINT) AS x",
        "label",
    )


def relabel_voxels(voxels: DataFrame, mapping: DataFrame) -> DataFrame:
    """Ontology-collapse relabel on the COO path: map each label through
    a (label → new_label) table; unmapped labels pass through.

    The mapping is an ontology-sized dim (thousands of rows) →
    broadcast left join, narrow in practice."""
    m = mapping.select(
        F.col("label").alias("__from"), F.col("new_label").alias("__to")
    )
    return (
        voxels.join(F.broadcast(m), voxels.label == F.col("__from"), "left")
        .select(
            "z", "y", "x",
            F.coalesce(F.col("__to"), F.col("label")).alias("label"),
        )
    )


def relabel_chunks(chunks: DataFrame, mapping: dict[int, int]) -> DataFrame:
    """Ontology-collapse relabel on the chunk-packed path: a vectorized
    LUT pass per payload (``np.take`` on a dense table when label ids
    are compact, dict-vectorize otherwise), zero shuffle — the bulk
    analog of ``relabel_voxels`` for collapsing fine regions to their
    ontology parents across a 100 TB volume.
    """
    if not mapping:
        return chunks
    items = sorted(mapping.items())
    keys = np.fromiter((k for k, _ in items), dtype=np.int64)
    vals = np.fromiter((v for _, v in items), dtype=np.int64)

    def relabel(key, origin, block):
        idx = np.minimum(np.searchsorted(keys, block), len(keys) - 1)
        yield key, origin, np.where(keys[idx] == block, vals[idx], block)

    return map_chunks(chunks, relabel)
