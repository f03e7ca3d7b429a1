"""Spark-native data model for dense 3D label volumes.

The reference's central object is a dense ``(Z, Y, X)`` C-order integer
label array, chunked for out-of-core execution (``upscale.py:9-13``,
``upscale_streaming.py:42-57``).  Here a volume has two interchangeable
relational representations (SURVEY.md §1.4):

1. **Chunk-packed** — ``chunks(volume_id, cz, cy, cx, z0, y0, x0,
   dz, dy, dx, payload binary)``; one row per chunk, payload is the
   C-order little-endian encoding of the block.  This is the bulk path:
   4 B/voxel instead of ~28 B/voxel exploded, which is what keeps the
   100 TB target feasible.  Bulk kernels run per-chunk with vectorized
   NumPy inside ``mapInPandas`` (Arrow across the JVM boundary).

2. **COO / coordinate view** — ``voxels(z, y, x, label)``; the
   relational encoding every SQL-checkable operator is defined against.
   Conversions both ways are narrow per-row operations (no shuffle).

Labels are unsigned in the reference (``uint32``, ``upscale.py:13``);
Spark has no unsigned integers, so labels widen to ``LongType``
(SURVEY.md §1.2) — the silent-overflow trap called out in §7.3.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

VOXEL_SCHEMA = T.StructType(
    [
        T.StructField("z", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("label", T.LongType(), False),
    ]
)

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("volume_id", T.StringType(), False),
        T.StructField("cz", T.IntegerType(), False),
        T.StructField("cy", T.IntegerType(), False),
        T.StructField("cx", T.IntegerType(), False),
        T.StructField("z0", T.LongType(), False),
        T.StructField("y0", T.LongType(), False),
        T.StructField("x0", T.LongType(), False),
        T.StructField("dz", T.IntegerType(), False),
        T.StructField("dy", T.IntegerType(), False),
        T.StructField("dx", T.IntegerType(), False),
        # one of PAYLOAD_CODECS: payloads may be compressed INSIDE the
        # worker that produced them (the reference's Blosc-in-worker
        # pattern, upscale_streaming.py:103-108) so only compressed
        # bytes cross the Arrow boundary — at x15 the raw output is
        # 3375x the input and label volumes compress ~100x.
        T.StructField("codec", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

# dtype used inside chunk payloads; labels are uint32 in the reference
# (upscale.py:13) — we keep the payload compact and widen only in COO.
PAYLOAD_DTYPE = np.dtype("<u4")


@dataclass(frozen=True)
class VolumeMeta:
    """Shape + spacing metadata (MHD header analog, upscale_streaming.py:23-40)."""

    dim_z: int
    dim_y: int
    dim_x: int
    spacing_z: float = 25.0
    spacing_y: float = 25.0
    spacing_x: float = 25.0
    element_type: str = "MET_UINT"
    source: str = "synthetic://fixture"

    @property
    def shape(self) -> tuple[int, int, int]:
        return (self.dim_z, self.dim_y, self.dim_x)

    @property
    def n_voxels(self) -> int:
        return self.dim_z * self.dim_y * self.dim_x

    def physical_size_mm(self) -> tuple[float, float, float]:
        """Physical extent in mm (print_metadata.py:13: size*spacing/1000)."""
        return (
            self.dim_z * self.spacing_z / 1000.0,
            self.dim_y * self.spacing_y / 1000.0,
            self.dim_x * self.spacing_x / 1000.0,
        )


FIXTURE_META = VolumeMeta(16, 16, 16)


#: chunk payload codecs.  'lz4'/'zstd' go through pyarrow's bundled C
#: codecs (~7x faster than zlib level 1 on label payloads, better
#: ratio) — the closest open analog of the reference's Blosc zstd
#: clevel 5 (upscale_streaming.py:103-108).  'zlib' stays for
#: stdlib-only portability.
PAYLOAD_CODECS = ("raw", "zlib", "lz4", "zstd")


def _encode_payload(arr: np.ndarray, codec: str) -> bytes:
    """Compress one chunk payload inside the worker that produced it."""
    if codec == "raw":
        return arr.tobytes()
    if codec == "zlib":
        import zlib

        return zlib.compress(arr, 1)
    if codec in ("lz4", "zstd"):
        import pyarrow as pa

        return pa.compress(
            arr.reshape(-1).view(np.uint8), codec=codec, asbytes=True
        )
    raise ValueError(f"unknown chunk codec {codec!r}")


def _decode_payload(payload: bytes, codec: str, size: int | None = None) -> bytes:
    """Inverse of :func:`_encode_payload`.  ``size`` is the decompressed
    byte count (``dz*dy*dx*itemsize`` — always derivable from the chunk
    row); pyarrow's block codecs require it."""
    if codec == "raw":
        return payload
    if codec == "zlib":
        import zlib

        return zlib.decompress(payload)
    if codec in ("lz4", "zstd"):
        import pyarrow as pa

        if size is None:
            raise ValueError(f"codec {codec!r} needs the decompressed size")
        return pa.decompress(payload, decompressed_size=size, codec=codec, asbytes=True)
    raise ValueError(f"unknown chunk codec {codec!r}")


# ---------------------------------------------------------------------------
# The chunk-kernel skeleton.  Every bulk kernel that reads or writes
# CHUNK_SCHEMA rows goes through these helpers, so the row format, the
# codecs and the output-batch bound live in this module only.
# ---------------------------------------------------------------------------

#: output-batch flush bound of every Arrow emitter (chunk kernels, the
#: halo faces of ``halo_map_chunks``, the CCL local phase), in payload
#: bytes.  Arrow binary arrays carry int32 offsets (2 GiB per array),
#: and a task may own up to ``MAX_TASK_BYTES`` of cells, so a kernel
#: that batched by input rows could build an unrepresentable array.
#: Read on the driver when a kernel is built (tests shrink it).
CHUNK_FLUSH_BYTES = 256 << 20

#: Spark type names (DDL or ``simpleString``) → pyarrow type aliases
_ARROW_TYPES = {
    "string": "string", "int": "int32", "long": "int64", "bigint": "int64",
    "binary": "binary",
}


def _arrow_fields(schema) -> list:
    """A flat Spark schema (``StructType`` or DDL string) as ``(name,
    pyarrow type)`` pairs."""
    import pyarrow as pa

    if isinstance(schema, str):
        pairs = [f.split() for f in schema.split(",")]
    else:
        pairs = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    return [(n, pa.type_for_alias(_ARROW_TYPES[t])) for n, t in pairs]


def _arrow_batch(rows: list[tuple], fields: list):
    """Build a non-empty Arrow RecordBatch from row tuples with explicit
    column types (int32/int64 mismatches make the JVM-side accessor
    throw)."""
    import pyarrow as pa

    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=t) for c, (_, t) in zip(cols, fields)],
        [n for n, _ in fields],
    )


def emit_kernel(rows_fn, schema):
    """The one output-batch bound of every Arrow emitter: wrap
    ``rows_fn(batches)``, which yields ``(row, n_bytes)`` with ``row``
    in ``schema`` order, as a ``mapInArrow`` kernel.  Rows buffer until
    their bytes reach ``CHUNK_FLUSH_BYTES`` (read here, on the driver)
    and leave as one batch."""
    flush_bytes = CHUNK_FLUSH_BYTES

    def kernel(batches):
        fields = _arrow_fields(schema)
        rows, pending = [], 0
        for row, n_bytes in rows_fn(batches):
            rows.append(row)
            pending += n_bytes
            if pending >= flush_bytes:
                yield _arrow_batch(rows, fields)
                rows, pending = [], 0
        if rows:
            yield _arrow_batch(rows, fields)

    return kernel


def _decode_block(payload: bytes, codec: str, extent) -> np.ndarray:
    """One chunk payload → its read-only ``(dz, dy, dx)`` uint32 block."""
    dz, dy, dx = extent
    return np.frombuffer(
        _decode_payload(payload, codec, dz * dy * dx * PAYLOAD_DTYPE.itemsize),
        dtype=PAYLOAD_DTYPE,
    ).reshape(dz, dy, dx)


def _check_codec(codec: str | None) -> str:
    """The output codec of a chunk kernel (``None`` → ``'raw'``)."""
    if codec is not None and codec not in PAYLOAD_CODECS:
        raise ValueError(f"unsupported codec {codec!r}")
    return codec or "raw"


def _iter_chunks(batches):
    """CHUNK_SCHEMA input batches → ``(volume_id, key, origin, block)``."""
    for batch in batches:
        d = batch.to_pydict()
        for i in range(batch.num_rows):
            yield (
                d["volume_id"][i],
                (d["cz"][i], d["cy"][i], d["cx"][i]),
                (d["z0"][i], d["y0"][i], d["x0"][i]),
                _decode_block(
                    d["payload"][i], d["codec"][i],
                    (d["dz"][i], d["dy"][i], d["dx"][i]),
                ),
            )


def chunk_kernel(items_fn, codec: str | None = None):
    """The emitter: wrap ``items_fn(batches)``, which yields
    ``(volume_id, (cz, cy, cx), (z0, y0, x0), block)`` items, as a
    ``mapInArrow`` kernel producing CHUNK_SCHEMA batches.

    Each block is cast to the payload dtype and encoded with ``codec``
    inside the worker; a batch is flushed once its payloads reach
    ``CHUNK_FLUSH_BYTES``.  The kernel pins glibc's allocator thresholds
    before its first chunk (``malloc_tuning``), so chunk-sized buffers
    reuse heap pages and the heap stays bounded by that batch size."""
    out_codec = _check_codec(codec)

    def rows(batches):
        from atlas_upscaling_dask_spark.malloc_tuning import pin_large_alloc_reuse

        pin_large_alloc_reuse()
        for vid, key, origin, block in items_fn(batches):
            block = np.ascontiguousarray(block, dtype=PAYLOAD_DTYPE)
            payload = _encode_payload(block, out_codec)
            yield (vid, *key, *origin, *block.shape, out_codec, payload), len(payload)

    return emit_kernel(rows, CHUNK_SCHEMA)


def map_chunks(chunks: DataFrame, fn, codec: str | None = None) -> DataFrame:
    """Narrow chunk → chunk map: ``fn(key, origin, block)`` yields zero
    or more ``(key, origin, block)`` output chunks of the same volume."""

    def items(batches):
        for vid, key, origin, block in _iter_chunks(batches):
            for out in fn(key, origin, block):
                yield (vid, *out)

    return chunks.mapInArrow(chunk_kernel(items, codec), schema=CHUNK_SCHEMA)


def synthetic_voxels(spark: SparkSession, meta: VolumeMeta = FIXTURE_META) -> DataFrame:
    """Deterministic dense label cube (FIXTURES.md §1).

    ``label = 15564 + (z div 4)*16 + (y div 4)*4 + (x div 4)`` — blocky
    4³ constant regions so outline/decimation are non-trivial, mirroring
    the ADMBA-P56 annotation volume's piecewise-constant structure
    (load_test.py:7-9).  Built with ``spark.range`` cross-products —
    fully distributed, no driver materialization.
    """
    z = spark.range(meta.dim_z).select(F.col("id").alias("z"))
    y = spark.range(meta.dim_y).select(F.col("id").alias("y"))
    x = spark.range(meta.dim_x).select(F.col("id").alias("x"))
    label = (
        F.lit(15564)
        + (F.col("z") / 4).cast("long") * 16
        + (F.col("y") / 4).cast("long") * 4
        + (F.col("x") / 4).cast("long")
    )
    return z.crossJoin(y).crossJoin(x).select("z", "y", "x", label.alias("label"))


def synthetic_chunks(
    spark: SparkSession,
    meta: VolumeMeta,
    chunk: tuple[int, int, int] | None = None,
    volume_id: str = "vol",
) -> DataFrame:
    """Generate a chunk-packed volume directly (no COO explode).

    One row per chunk of the grid; each payload is built with vectorized
    NumPy inside ``mapInPandas`` using the same deterministic label rule
    as :func:`synthetic_voxels` (4³ constant blocks).  This is how a
    bulk-path benchmark volume at the reference's real shape
    ((456,320,528) uint32 ≈ 308 MB, BASELINE.md) is materialized without
    ever paying the 28 B/voxel COO representation.
    """
    dz, dy, dx = chunk or choose_chunks(meta.shape)
    zdim, ydim, xdim = meta.shape
    ncz = -(-zdim // dz)
    ncy = -(-ydim // dy)
    ncx = -(-xdim // dx)

    grid = (
        spark.range(ncz * ncy * ncx)
        .select(
            (F.col("id") / (ncy * ncx)).cast("int").alias("cz"),
            ((F.col("id") / ncx) % ncy).cast("int").alias("cy"),
            (F.col("id") % ncx).cast("int").alias("cx"),
        )
        .repartition(64)
    )

    def gen(batches):
        # mapInArrow, not mapInPandas: pandas round-trips every payload
        # through Python bytes objects (~5× slower for multi-MB binaries).
        for batch in batches:
            d = batch.to_pydict()
            for cz, cy, cx in zip(d["cz"], d["cy"], d["cx"]):
                z0, y0, x0 = cz * dz, cy * dy, cx * dx
                zz = np.arange(z0, min(z0 + dz, zdim), dtype=np.int64)[:, None, None]
                yy = np.arange(y0, min(y0 + dy, ydim), dtype=np.int64)[None, :, None]
                xx = np.arange(x0, min(x0 + dx, xdim), dtype=np.int64)[None, None, :]
                block = 15564 + (zz // 4) * 16 + (yy // 4) * 4 + (xx // 4)
                yield volume_id, (cz, cy, cx), (z0, y0, x0), block

    return grid.mapInArrow(chunk_kernel(gen), schema=CHUNK_SCHEMA)


#: Per-task logical-byte ceiling for grid scans: a straggler or task
#: failure re-reads at most this much, regardless of grid size.
MAX_TASK_BYTES = 4 << 30  # 4 GiB


def one_wave_partitions(n_cells: int, spark, cell_bytes: int = 0) -> int:
    """Partition count for a grid-driven ``mapInArrow`` scan: ONE wave
    of contiguous-cell tasks.  Each extra task pays a fixed ~6 ms
    Python round-trip (r7 sweep: 32/64/96/128 partitions on the same
    1024-cell scan → 0.88/1.12/1.27/1.49 s — perfectly linear), and
    with uniform per-cell cost every wave past the first is pure
    overhead.  Very large grids (> 64 cells/core) get a second wave as
    straggler insurance, where it costs proportionally nothing.

    ``cell_bytes`` (the logical decoded size of one grid cell) adds a
    retry-granularity ceiling: tasks are split until no task owns more
    than ``MAX_TASK_BYTES`` logical bytes, rounded up to whole waves so
    no partial trailing wave straggles.  Without it a two-wave policy
    on a million-cell grid hands one task thousands of chunks — memory
    stays bounded (byte-bounded output batches) but a single failure
    re-reads the whole range.  Shared by the MHD / TIFF / Zarr v2 /
    Zarr v3 scanners so the policy tunes in one place."""
    par = max(spark.sparkContext.defaultParallelism, 1)
    n = min(n_cells, par if n_cells <= 64 * par else 2 * par)
    if cell_bytes > 0:
        # strict per-task bound: cap CELLS per task (not average bytes)
        # so range-partition rounding can't push one task past the
        # ceiling
        cells_per_task = max(1, MAX_TASK_BYTES // cell_bytes)
        min_tasks = -(-n_cells // cells_per_task)
        if min_tasks > n:
            n = min(n_cells, -(-min_tasks // par) * par)  # whole waves
    return max(1, n)


def choose_chunks(
    shape: tuple[int, int, int],
    itemsize: int = 4,
    target_mb: int = 8,
) -> tuple[int, int, int]:
    """Chunk-geometry heuristic (P1, upscale_streaming.py:59-74 semantics).

    Scale a seed chunk ``(16, 512, 512)`` by the cube root of
    ``target_bytes / seed_bytes`` and clamp to the volume shape.  In
    Spark the analog for *partition* sizing is ``files.maxPartitionBytes``
    + AQE; this heuristic governs chunk-packed payload geometry only.
    """
    seed = np.array([16, 512, 512], dtype=np.float64)
    seed_bytes = float(seed.prod()) * itemsize
    factor = (target_mb * 1024.0 * 1024.0 / seed_bytes) ** (1.0 / 3.0)
    dims = np.maximum(1, np.floor(seed * factor)).astype(np.int64)
    return tuple(int(min(d, s)) for d, s in zip(dims, shape))


def voxels_to_chunks(
    voxels: DataFrame,
    meta: VolumeMeta,
    chunk: tuple[int, int, int] | None = None,
    volume_id: str = "vol",
) -> DataFrame:
    """COO → chunk-packed.

    Groups voxels by chunk key and packs each group into a C-order
    binary payload with vectorized NumPy (``applyInPandas``).  One
    shuffle on the chunk key — the minimum possible, and the same
    data movement a Zarr writer performs (upscale_streaming.py:124-127).
    """
    dz, dy, dx = chunk or choose_chunks(meta.shape)
    zdim, ydim, xdim = meta.shape

    keyed = voxels.withColumn("cz", (F.col("z") / dz).cast("int")).withColumn(
        "cy", (F.col("y") / dy).cast("int")
    ).withColumn("cx", (F.col("x") / dx).cast("int"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        cz, cy, cx = int(pdf["cz"].iloc[0]), int(pdf["cy"].iloc[0]), int(pdf["cx"].iloc[0])
        z0, y0, x0 = cz * dz, cy * dy, cx * dx
        bz = min(dz, zdim - z0)
        by = min(dy, ydim - y0)
        bx = min(dx, xdim - x0)
        block = np.zeros((bz, by, bx), dtype=PAYLOAD_DTYPE)
        block[
            pdf["z"].to_numpy() - z0,
            pdf["y"].to_numpy() - y0,
            pdf["x"].to_numpy() - x0,
        ] = pdf["label"].to_numpy().astype(PAYLOAD_DTYPE)
        return pd.DataFrame(
            {
                "volume_id": [volume_id],
                "cz": [cz],
                "cy": [cy],
                "cx": [cx],
                "z0": [z0],
                "y0": [y0],
                "x0": [x0],
                "dz": [bz],
                "dy": [by],
                "dx": [bx],
                "codec": ["raw"],
                "payload": [block.tobytes()],
            }
        )

    return keyed.groupBy("cz", "cy", "cx").applyInPandas(pack, schema=CHUNK_SCHEMA)


def rechunk(
    chunks: DataFrame, meta: VolumeMeta, new_chunk: tuple[int, int, int]
) -> DataFrame:
    """T6 — change chunk geometry before writing (upscale_streaming.py:126).

    Three strategies by alignment, cheapest first:

    * **split** (new = old / k per axis, k | old): NARROW — each chunk
      slices into k³ sub-chunks in place, zero shuffle;
    * **merge** (new = k·old per axis, grid-aligned): one shuffle of
      PACKED payloads on the coarse chunk key (4 B/voxel) — 7× less
      exchange traffic than the COO fallback;
    * **general**: explode to COO (narrow) and repack on the new chunk
      key (one shuffle of 28 B/voxel rows — the same data movement
      Dask's rechunk performs).

    Alignment is decided from the table's actual geometry (a
    metadata-scale agg over the key columns).
    """
    dzn, dyn, dxn = new_chunk
    geo = chunks.agg(
        F.count_distinct("dz").alias("ndz"),
        F.count_distinct("dy").alias("ndy"),
        F.count_distinct("dx").alias("ndx"),
        F.max("dz").alias("dz"),
        F.max("dy").alias("dy"),
        F.max("dx").alias("dx"),
    ).first()
    uniform = geo["ndz"] == geo["ndy"] == geo["ndx"] == 1
    if uniform:
        dzo, dyo, dxo = geo["dz"], geo["dy"], geo["dx"]
        if all(o % n == 0 for o, n in ((dzo, dzn), (dyo, dyn), (dxo, dxn))):
            return split_chunks(chunks, (dzo // dzn, dyo // dyn, dxo // dxn))
        if (
            all(n % o == 0 for o, n in ((dzo, dzn), (dyo, dyn), (dxo, dxn)))
            and all(s % o == 0 for s, o in zip(meta.shape, (dzo, dyo, dxo)))
        ):
            return merge_chunks(chunks, (dzn // dzo, dyn // dyo, dxn // dxo))
    return voxels_to_chunks(chunks_to_voxels(chunks), meta, chunk=new_chunk)


def split_chunks(chunks: DataFrame, factor: tuple[int, int, int]) -> DataFrame:
    """Aligned rechunk, fine direction: each chunk slices into
    ``kz·ky·kx`` sub-chunks — a pure per-row NumPy view copy, ZERO
    shuffle.  Requires each factor to divide the chunk's extent."""
    kz, ky, kx = factor

    def split(key, origin, block):
        dz, dy, dx = block.shape
        if dz % kz or dy % ky or dx % kx:
            raise ValueError(
                f"split factor {factor} does not divide chunk extent "
                f"({dz},{dy},{dx})"
            )
        (cz, cy, cx), (z0, y0, x0) = key, origin
        sz, sy, sx = dz // kz, dy // ky, dx // kx
        for iz in range(kz):
            for iy in range(ky):
                for ix in range(kx):
                    yield (
                        (cz * kz + iz, cy * ky + iy, cx * kx + ix),
                        (z0 + iz * sz, y0 + iy * sy, x0 + ix * sx),
                        block[
                            iz * sz : (iz + 1) * sz,
                            iy * sy : (iy + 1) * sy,
                            ix * sx : (ix + 1) * sx,
                        ],
                    )

    return map_chunks(chunks, split)


def merge_chunks(chunks: DataFrame, factor: tuple[int, int, int]) -> DataFrame:
    """Aligned rechunk, coarse direction: ``kz·ky·kx`` neighbor chunks
    assemble into one — ONE shuffle of PACKED payloads on the coarse
    key (4 B/voxel vs 28 B/voxel for the COO fallback).  Edge chunks may
    assemble short (clamped to the volume shape)."""
    kz, ky, kx = factor

    keyed = chunks.withColumn("mcz", (F.col("cz") / kz).cast("int")).withColumn(
        "mcy", (F.col("cy") / ky).cast("int")
    ).withColumn("mcx", (F.col("cx") / kx).cast("int"))

    def assemble(keys, pdf):
        z0 = int(pdf["z0"].min())
        y0 = int(pdf["y0"].min())
        x0 = int(pdf["x0"].min())
        bz = int((pdf["z0"] + pdf["dz"]).max()) - z0
        by = int((pdf["y0"] + pdf["dy"]).max()) - y0
        bx = int((pdf["x0"] + pdf["dx"]).max()) - x0
        block = np.zeros((bz, by, bx), dtype=PAYLOAD_DTYPE)
        for r in pdf.itertuples(index=False):
            block[
                r.z0 - z0 : r.z0 - z0 + r.dz,
                r.y0 - y0 : r.y0 - y0 + r.dy,
                r.x0 - x0 : r.x0 - x0 + r.dx,
            ] = _decode_block(r.payload, r.codec, (r.dz, r.dy, r.dx))
        return pd.DataFrame(
            {
                "volume_id": [pdf["volume_id"].iloc[0]],
                "cz": [int(keys[0])],
                "cy": [int(keys[1])],
                "cx": [int(keys[2])],
                "z0": [z0],
                "y0": [y0],
                "x0": [x0],
                "dz": [bz],
                "dy": [by],
                "dx": [bx],
                "codec": ["raw"],
                "payload": [block.tobytes()],
            }
        )

    return keyed.groupBy("mcz", "mcy", "mcx").applyInPandas(assemble, schema=CHUNK_SCHEMA)


def chunks_to_voxels(chunks: DataFrame) -> DataFrame:
    """Chunk-packed → COO.

    Narrow per-row explode of each payload into coordinate rows using
    vectorized NumPy — no shuffle; Catalyst sees a plain ``mapInPandas``
    over the chunk scan, so chunk-level predicate pushdown (on
    cz/cy/cx min-max stats) still prunes I/O before the explode.
    """

    def unpack(batches):
        from atlas_upscaling_dask_spark.malloc_tuning import pin_large_alloc_reuse
        pin_large_alloc_reuse()
        import pyarrow as pa

        for _vid, _key, (z0, y0, x0), block in _iter_chunks(batches):
            dz, dy, dx = block.shape
            zz, yy, xx = np.meshgrid(
                np.arange(z0, z0 + dz, dtype=np.int64),
                np.arange(y0, y0 + dy, dtype=np.int64),
                np.arange(x0, x0 + dx, dtype=np.int64),
                indexing="ij",
            )
            # zero-copy Arrow arrays straight from the numpy buffers
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(zz.ravel(), type=pa.int64()),
                    pa.array(yy.ravel(), type=pa.int64()),
                    pa.array(xx.ravel(), type=pa.int64()),
                    pa.array(block.ravel().astype(np.int64), type=pa.int64()),
                ],
                ["z", "y", "x", "label"],
            )

    return chunks.mapInArrow(unpack, schema=VOXEL_SCHEMA)


def infer_meta(chunks: DataFrame, spacing: tuple[float, float, float] = (25.0, 25.0, 25.0)) -> VolumeMeta:
    """Recover volume dimensions from a chunk table (max origin+extent
    per axis) — the source of truth when planning over stored volumes;
    spacing is not recorded in the chunk rows and must be supplied (or
    read from the sidecar)."""
    row = chunks.agg(
        F.max(F.col("z0") + F.col("dz")).alias("dz"),
        F.max(F.col("y0") + F.col("dy")).alias("dy"),
        F.max(F.col("x0") + F.col("dx")).alias("dx"),
    ).first()
    return VolumeMeta(
        int(row["dz"]), int(row["dy"]), int(row["dx"]),
        spacing_z=spacing[0], spacing_y=spacing[1], spacing_x=spacing[2],
    )
