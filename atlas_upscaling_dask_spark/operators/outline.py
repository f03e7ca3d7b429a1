"""T4 — outline / boundary extraction.

Reference semantics (``upscale_streaming_enhance.py:107-119``): keep the
label where it differs from any of its 6 axis neighbors, else 0:
``d * ((d != roll(d, 1, 0)) | (d != roll(d, -1, 0)) | ...)``.

Note the quirk called out in SURVEY.md §4.3.3: ``da.roll`` *wraps
around* at volume borders (torus semantics), so a voxel on the z=0 face
compares against the z=Z-1 face.  We implement non-wrapping (clamped —
out-of-range neighbor counts as "same", contributing no boundary) as the
default and offer ``wrap=True`` for bug-compatibility.

Spark-first: two strategies, identical results —

* ``outline_window`` (default): for each axis run ``lag``/``lead`` over
  a window partitioned by the other two coordinates.  Three shuffles of
  the narrow (z,y,x,label) relation, each a sort within small
  partitions; at 100 TB this stays bounded because each window partition
  is one scanline (≤ X voxels).  Measured ~4.5× faster than the join
  variant under AQE (128³ dense COO, local[32]: 0.9 s vs 4.2 s) — it
  stays the default.
* ``outline_join``: six self-equi-joins on shifted coordinates — the
  plan Catalyst turns into sort-merge joins; needed when the volume is
  sparse (COO with gaps), where scanline windows would be wrong.
* ``outline_chunks``: the bulk path — per-chunk stencil + one face-halo
  exchange via :func:`halo_map_chunks`; the only variant that holds at
  full-volume scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _neighbor_expr(col, lagged, leaded, wrap_first, wrap_last, wrap: bool):
    """Boundary test for one axis: differs from prev or next neighbor.

    Out-of-range neighbors: with ``wrap`` they are the opposite face
    (torus, the reference's ``da.roll`` behavior); without, they are
    treated as equal (no boundary contribution).
    """
    prev = F.coalesce(lagged, wrap_last if wrap else col)
    nxt = F.coalesce(leaded, wrap_first if wrap else col)
    return (col != prev) | (col != nxt)


def outline_window(voxels: DataFrame, wrap: bool = False) -> DataFrame:
    """Outline via per-axis scanline windows (lag/lead).

    For the wrap variant, the opposite-face value is ``first``/``last``
    over the scanline window — exactly what ``da.roll`` would deliver.
    """
    out = voxels
    for axis, others in (("x", ("z", "y")), ("y", ("z", "x")), ("z", ("y", "x"))):
        w = Window.partitionBy(*others).orderBy(axis)
        wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        lab = F.col("label")
        expr = _neighbor_expr(
            lab,
            F.lag("label", 1).over(w),
            F.lead("label", 1).over(w),
            F.first("label").over(wfull),
            F.last("label").over(wfull),
            wrap,
        )
        out = out.withColumn(f"b_{axis}", expr)
    return out.select(
        "z",
        "y",
        "x",
        F.when(F.col("b_x") | F.col("b_y") | F.col("b_z"), F.col("label"))
        .otherwise(F.lit(0))
        .alias("label"),
    )


def outline_join(
    voxels: DataFrame, shape: tuple[int, int, int], wrap: bool = False
) -> DataFrame:
    """Outline via six self-joins on shifted coordinates.

    ``pmod(z+1, Z)`` implements the torus wrap; the non-wrap variant
    leaves out-of-range neighbors unmatched (left join → null → treated
    as same).  Correct also for sparse/COO volumes with gaps.
    """
    zdim, ydim, xdim = shape
    dims = {"z": zdim, "y": ydim, "x": xdim}
    base = voxels.select("z", "y", "x", "label")
    acc = base.withColumn("is_boundary", F.lit(False))
    for axis in ("z", "y", "x"):
        for delta in (1, -1):
            n = base.select(
                F.col("z").alias("nz"),
                F.col("y").alias("ny"),
                F.col("x").alias("nx"),
                F.col("label").alias("nlabel"),
            )
            shifted = F.col(axis) + delta
            key = F.pmod(shifted, F.lit(dims[axis])) if wrap else shifted
            cond = (
                (n["nz"] == (key if axis == "z" else F.col("z")))
                & (n["ny"] == (key if axis == "y" else F.col("y")))
                & (n["nx"] == (key if axis == "x" else F.col("x")))
            )
            acc = (
                acc.join(n, cond, "left")
                .withColumn(
                    "is_boundary",
                    F.col("is_boundary")
                    | (F.col("nlabel").isNotNull() & (F.col("nlabel") != F.col("label"))),
                )
                .drop("nz", "ny", "nx", "nlabel")
            )
    return acc.select(
        "z",
        "y",
        "x",
        F.when(F.col("is_boundary"), F.col("label")).otherwise(F.lit(0)).alias("label"),
    )


#: receiver-relative halo plane names.  'core' sorts before all of them
#: (alphabetical), which the streaming kernel relies on after
#: sortWithinPartitions.
_HALO_SIDES = ("zlo", "zhi", "ylo", "yhi", "xlo", "xhi")


#: the halo exchange rows: CHUNK_SCHEMA + the receiver-relative side
#: ('core' for the chunk itself)
_HALO_SCHEMA = (
    "volume_id string, cz int, cy int, cx int, z0 long, y0 long, x0 long, "
    "dz int, dy int, dx int, codec string, payload binary, side string"
)
_HALO_NAMES = tuple(f.split()[0] for f in _HALO_SCHEMA.split(","))


def _halo_faces_kernel(grid):
    """Face extraction of :func:`halo_map_chunks` as a ``mapInArrow``
    kernel (CHUNK_SCHEMA in, ``_HALO_SCHEMA`` out): each chunk's core
    row and its six 1-voxel faces addressed to the receiving neighbour,
    flushed by ``CHUNK_FLUSH_BYTES``.  ``grid`` = the chunk-grid extent
    for torus wrap, or ``None``."""
    from ..volume import _decode_block, emit_kernel

    def rows(batches):
        # ONE pass emits the core row AND its six faces — the source is
        # scanned once (a union of faces(chunks) with chunks would read
        # every payload twice from storage).
        for batch in batches:
            d = batch.to_pydict()
            for i in range(batch.num_rows):
                dz, dy, dx = d["dz"][i], d["dy"][i], d["dx"][i]
                cz, cy, cx = d["cz"][i], d["cy"][i], d["cx"][i]
                vid, origin = d["volume_id"][i], (d["z0"][i], d["y0"][i], d["x0"][i])
                payload, codec = d["payload"][i], d["codec"][i]
                block = _decode_block(payload, codec, (dz, dy, dx))
                yield (vid, cz, cy, cx, *origin, dz, dy, dx, codec, payload, "core"), len(
                    payload
                )
                # (my face, receiver delta on the chunk grid, receiver side)
                emits = (
                    (block[:1], (-1, 0, 0), "zhi"),
                    (block[-1:], (1, 0, 0), "zlo"),
                    (block[:, :1], (0, -1, 0), "yhi"),
                    (block[:, -1:], (0, 1, 0), "ylo"),
                    (block[:, :, :1], (0, 0, -1), "xhi"),
                    (block[:, :, -1:], (0, 0, 1), "xlo"),
                )
                for face, (ez, ey, ex), side in emits:
                    tz, ty, tx = cz + ez, cy + ey, cx + ex
                    if grid is not None:
                        tz, ty, tx = tz % grid[0], ty % grid[1], tx % grid[2]
                    elif tz < 0 or ty < 0 or tx < 0:
                        continue  # upper-edge misses drop as coreless groups
                    f = face.tobytes()
                    yield (vid, tz, ty, tx, *origin, *face.shape, "raw", f, side), len(f)

    return emit_kernel(rows, _HALO_SCHEMA)


def halo_map_chunks(
    chunks: DataFrame,
    block_fn=None,
    wrap: bool = False,
    codec: str | None = None,
    row_fn=None,
    out_schema: str | None = None,
) -> DataFrame:
    """Generic 1-voxel-halo stencil map on the chunk-packed path: the
    ghost-cell primitive behind :func:`outline_chunks` and
    :func:`morphology_chunks` (Dask's ``map_overlap`` with depth=1,
    re-expressed as one Spark exchange).

    ``block_fn(block, padded) -> np.ndarray`` receives the chunk's
    ``(dz, dy, dx)`` payload and its ``(dz+2, dy+2, dx+2)`` halo-padded
    companion, and returns the output payload (same shape/dtype as
    ``block``).  Alternatively pass ``row_fn(core_row, block, padded)
    -> pyarrow.RecordBatch | None`` with ``out_schema`` to emit
    arbitrary per-chunk rows instead of a chunk table (e.g. the region
    adjacency pairs) — same exchange, different reduction.

    Exchange structure (the only data movement):

    1. **Face extraction** (narrow ``mapInArrow``): each chunk emits its
       six 1-voxel boundary faces addressed to the neighbor chunk that
       needs them — KB-sized slabs, ~``2·(1/dz+1/dy+1/dx)`` of the
       volume (≈5% at 128³ chunks).
    2. **One hash exchange** of ``core ∪ faces`` on the chunk key with
       an in-partition sort — the same ghost-cell movement Dask's
       ``map_overlap`` performs, expressed as a single Spark shuffle.
       On a chunk-key-partitioned store (the ``write_volume`` layout)
       AQE sees the pre-partitioning and only the faces move.
    3. **Per-chunk kernel**: pad the block edge-replicated (missing
       neighbors behave as the center value — the non-wrap contract for
       both outline and morphology), overlay the received halo planes,
       then run ``block_fn`` vectorized.

    ``wrap=True`` reproduces the reference's ``da.roll`` torus
    semantics (SURVEY.md §4.3.3): faces address neighbors modulo the
    chunk grid, so volume-border voxels see the opposite face.
    ``codec`` compresses output payloads in-worker (same contract as
    ``upscale_chunks``).
    """
    from ..volume import CHUNK_SCHEMA, _check_codec, _decode_block, chunk_kernel

    _check_codec(codec)

    if wrap:
        # Grid extent: a metadata-scale agg (3 ints) over the chunk keys
        # only — column pruning keeps it off the payloads.
        row = chunks.agg(
            F.max("cz").alias("cz"), F.max("cy").alias("cy"), F.max("cx").alias("cx")
        ).first()
        grid = (row["cz"] + 1, row["cy"] + 1, row["cx"] + 1)
    else:
        grid = None

    tagged = chunks.mapInArrow(_halo_faces_kernel(grid), schema=_HALO_SCHEMA)
    exchanged = tagged.repartition("cz", "cy", "cx").sortWithinPartitions(
        "cz", "cy", "cx", "side"
    )

    def _padded_of(group):
        """(core_row, block, halo-padded block) for one key's rows, or
        None for a coreless group (a face addressed past the grid edge)."""
        core = next((g for g in group if g[-1] == "core"), None)
        if core is None:
            return None
        block = _decode_block(core[11], core[10], core[7:10])
        padded = np.pad(block, 1, mode="edge")
        for row in group:
            side = row[-1]
            if side == "core":
                continue
            face = _decode_block(row[11], row[10], row[7:10])
            if side == "zlo":
                padded[0, 1:-1, 1:-1] = face[0]
            elif side == "zhi":
                padded[-1, 1:-1, 1:-1] = face[0]
            elif side == "ylo":
                padded[1:-1, 0, 1:-1] = face[:, 0]
            elif side == "yhi":
                padded[1:-1, -1, 1:-1] = face[:, 0]
            elif side == "xlo":
                padded[1:-1, 1:-1, 0] = face[:, :, 0]
            elif side == "xhi":
                padded[1:-1, 1:-1, -1] = face[:, :, 0]
        return core, block, padded

    def _groups(batches):
        """Stream key-contiguous row groups off the sorted exchange."""
        group: list[tuple] = []
        key = None
        for batch in batches:
            d = batch.to_pydict()
            for i in range(len(d["cz"])):
                row = tuple(d[n][i] for n in _HALO_NAMES)
                k = (row[1], row[2], row[3])
                if k != key and group:
                    yield group
                    group = []
                key = k
                group.append(row)
        if group:
            yield group

    if row_fn is not None:
        def kernel_rows(batches):
            for group in _groups(batches):
                built = _padded_of(group)
                if built is None:
                    continue
                rb = row_fn(built[0], built[1], built[2])
                if rb is not None and rb.num_rows:
                    yield rb

        return exchanged.mapInArrow(kernel_rows, schema=out_schema)

    def stencil(batches):
        for group in _groups(batches):
            built = _padded_of(group)
            if built is not None:
                core, block, padded = built
                yield core[0], core[1:4], core[4:7], block_fn(block, padded)

    return exchanged.mapInArrow(chunk_kernel(stencil, codec), schema=CHUNK_SCHEMA)


#: the six 1-voxel-shifted views of a halo-padded block, as slices
_SHIFT_SLICES = (
    (slice(None, -2), slice(1, -1), slice(1, -1)),
    (slice(2, None), slice(1, -1), slice(1, -1)),
    (slice(1, -1), slice(None, -2), slice(1, -1)),
    (slice(1, -1), slice(2, None), slice(1, -1)),
    (slice(1, -1), slice(1, -1), slice(None, -2)),
    (slice(1, -1), slice(1, -1), slice(2, None)),
)


def outline_chunks(
    chunks: DataFrame, wrap: bool = False, codec: str | None = None
) -> DataFrame:
    """T4 outline on the chunk-packed path — the bulk twin of
    :func:`outline_window`, and the shape that survives the reference's
    actual workload (outline of the FULL ×15 volume,
    upscale_streaming_enhance.py:355-357): the COO variants would
    explode 2.6e11 coordinate rows there; this one keeps 4 B/voxel
    payloads packed end-to-end.  See :func:`halo_map_chunks` for the
    exchange structure (one shuffle, faces + cores).
    """

    def boundary_fn(block, padded):
        boundary = np.zeros(block.shape, dtype=bool)
        for sl in _SHIFT_SLICES:
            boundary |= block != padded[sl]
        return np.where(boundary, block, np.uint32(0))

    return halo_map_chunks(chunks, boundary_fn, wrap=wrap, codec=codec)


def morphology_chunks(
    chunks: DataFrame,
    op: str = "erode",
    wrap: bool = False,
    codec: str | None = None,
) -> DataFrame:
    """Grayscale 6-neighborhood morphology on the chunk-packed path —
    the bulk twin of :func:`morphology` (erode = min over the 7-cell
    cross, dilate = max), sharing the outline kernel's halo exchange.
    Out-of-range neighbors are the center value (non-wrap: the
    edge-replicated pad) or the opposite face (wrap)."""
    if op not in ("erode", "dilate"):
        raise ValueError(f"op must be erode|dilate, got {op!r}")
    reduce = np.minimum if op == "erode" else np.maximum

    def morph_fn(block, padded):
        acc = block.copy()
        for sl in _SHIFT_SLICES:
            acc = reduce(acc, padded[sl])
        return acc

    return halo_map_chunks(chunks, morph_fn, wrap=wrap, codec=codec)


def morphology(voxels: DataFrame, op: str = "erode", wrap: bool = False) -> DataFrame:
    """Grayscale morphology over the 6-neighborhood + center.

    ``erode`` = min over the 7-cell cross, ``dilate`` = max — the
    neighbor-access pattern of the outline kernel
    (upscale_streaming_enhance.py:107-119) generalized from "differs?"
    to an aggregate, using the same per-axis scanline windows (three
    shuffles, each sorting one-scanline partitions; identical cost
    profile to T4 at any scale).  Out-of-range neighbors are the center
    value (non-wrap) or the opposite face (wrap — da.roll semantics).
    """
    if op not in ("erode", "dilate"):
        raise ValueError(f"op must be erode|dilate, got {op!r}")
    combine = F.least if op == "erode" else F.greatest
    out = voxels
    neighbor_cols = []
    for axis, others in (("x", ("z", "y")), ("y", ("z", "x")), ("z", ("y", "x"))):
        w = Window.partitionBy(*others).orderBy(axis)
        wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        lab = F.col("label")
        prev = F.coalesce(
            F.lag("label", 1).over(w),
            F.last("label").over(wfull) if wrap else lab,
        )
        nxt = F.coalesce(
            F.lead("label", 1).over(w),
            F.first("label").over(wfull) if wrap else lab,
        )
        out = out.withColumn(f"p_{axis}", prev).withColumn(f"n_{axis}", nxt)
        neighbor_cols += [f"p_{axis}", f"n_{axis}"]
    return out.select(
        "z",
        "y",
        "x",
        combine(F.col("label"), *[F.col(c) for c in neighbor_cols]).alias("label"),
    )


def region_adjacency_chunks(chunks: DataFrame) -> DataFrame:
    """Region adjacency graph on the chunk-packed path — the bulk twin
    of :func:`region_adjacency` (distinct touching label pairs over the
    6-neighborhood, non-wrapping).

    Per chunk: compare the block against its three POSITIVE-shifted
    views (the +z/+y/+x halo planes come from the neighbor's low faces,
    so each cross-chunk contact is counted by exactly one chunk, and
    the edge-replicate pad makes volume borders self-equal → no pair),
    canonicalize (min, max), dedup locally with ``np.unique``, then one
    tiny global DISTINCT over (label_a, label_b) rows.  The exchange
    after the halo shuffle carries per-chunk distinct pairs — a graph,
    never voxels.
    """
    import pyarrow as pa

    # positive-direction neighbor views of the padded block
    pos = (
        (slice(2, None), slice(1, -1), slice(1, -1)),
        (slice(1, -1), slice(2, None), slice(1, -1)),
        (slice(1, -1), slice(1, -1), slice(2, None)),
    )

    def pairs_fn(core, block, padded):
        a_all, b_all = [], []
        for sl in pos:
            nb = padded[sl]
            touch = block != nb
            if touch.any():
                a_all.append(block[touch])
                b_all.append(nb[touch])
        if not a_all:
            return None
        a = np.concatenate(a_all).astype(np.int64)
        b = np.concatenate(b_all).astype(np.int64)
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        uniq = np.unique(np.stack([lo, hi], axis=1), axis=0)
        return pa.RecordBatch.from_arrays(
            [pa.array(uniq[:, 0]), pa.array(uniq[:, 1])],
            ["label_a", "label_b"],
        )

    pairs = halo_map_chunks(
        chunks, row_fn=pairs_fn, out_schema="label_a long, label_b long"
    )
    return pairs.distinct()


def region_adjacency(voxels: DataFrame) -> DataFrame:
    """Region adjacency graph: distinct (label_a < label_b) pairs whose
    voxels touch along any of the 6 face-neighbor axes (non-wrapping).

    The outline operator's neighbor pattern (T4) inverted: instead of
    asking "does my label differ from a neighbor", collect WHICH labels
    meet.  Three shifted equi-joins on coordinates (one +1 shift per
    axis covers both directions after canonicalizing the pair), each a
    narrow-key sort-merge join at scale; the result is the atlas's
    region-contact graph — what viewers and QA diff against the
    ontology hierarchy.
    """
    pairs = None
    for sz, sy, sx in ((1, 0, 0), (0, 1, 0), (0, 0, 1)):
        a = voxels.select(
            F.col("z").alias("az"),
            F.col("y").alias("ay"),
            F.col("x").alias("ax"),
            F.col("label").alias("la"),
        )
        b = voxels.select(
            (F.col("z") - sz).alias("az"),
            (F.col("y") - sy).alias("ay"),
            (F.col("x") - sx).alias("ax"),
            F.col("label").alias("lb"),
        )
        touch = (
            a.join(b, ["az", "ay", "ax"])
            .filter(F.col("la") != F.col("lb"))
            .select(
                F.least("la", "lb").alias("label_a"),
                F.greatest("la", "lb").alias("label_b"),
            )
        )
        pairs = touch if pairs is None else pairs.unionByName(touch)
    return pairs.distinct()
