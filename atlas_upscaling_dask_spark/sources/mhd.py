"""S1-S3 — MHD header parsing and distributed raw-volume scan.

The reference parses MetaImage ``key = value`` headers
(``upscale_streaming.py:23-40``), maps ``ElementType`` to a dtype with
endianness handling (``:12-21,51-53``), and memmaps the ``.raw`` payload
as a (Z,Y,X) C-order array (``:42-57``) so the OS page cache is the
buffer pool.

Spark-first scan: the header is parsed driver-side (it is ~10 lines of
text — the analog of reading a parquet footer), then a *chunk grid* is
planned and each task reads only its own byte ranges with plain seeks —
``pread``-style range reads over a shared filesystem, the same access
pattern every distributed parquet reader uses.  No whole-file ingest,
no driver materialization; the volume lands directly in the
chunk-packed representation (volume.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

from ..volume import (
    CHUNK_SCHEMA,
    VolumeMeta,
    choose_chunks,
    chunk_kernel,
    one_wave_partitions,
)

# MET_* → numpy dtype (the full lattice of upscale_streaming.py:12-21).
MHD_DTYPES = {
    "MET_UCHAR": np.dtype("u1"),
    "MET_CHAR": np.dtype("i1"),
    "MET_USHORT": np.dtype("u2"),
    "MET_SHORT": np.dtype("i2"),
    "MET_UINT": np.dtype("u4"),
    "MET_INT": np.dtype("i4"),
    "MET_FLOAT": np.dtype("f4"),
    "MET_DOUBLE": np.dtype("f8"),
}

# numpy dtype kind/size → Spark type, widened for unsigned (SURVEY §1.2:
# Spark has no unsigned ints — uint32 MUST land in LongType).
SPARK_TYPES = {
    ("u", 1): "smallint",
    ("i", 1): "tinyint",
    ("u", 2): "int",
    ("i", 2): "smallint",
    ("u", 4): "bigint",
    ("i", 4): "int",
    ("f", 4): "float",
    ("f", 8): "double",
}


@dataclass(frozen=True)
class MhdHeader:
    meta: VolumeMeta
    dtype: np.dtype
    data_file: str
    byte_order_msb: bool

    @property
    def spark_type(self) -> str:
        return SPARK_TYPES[(self.dtype.kind, self.dtype.itemsize)]


def parse_mhd(path: str) -> MhdHeader:
    """S1 — parse a ``key = value`` MHD header with typed coercion.

    Required keys (validated, as upscale_streaming.py:36-40 does):
    DimSize, ElementType, ElementDataFile.  ``DimSize`` is X Y Z in MHD
    convention; the array axis order is (Z,Y,X).
    """
    kv: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            if "=" in line:
                k, v = line.split("=", 1)
                kv[k.strip()] = v.strip()
    missing = {"DimSize", "ElementType", "ElementDataFile"} - set(kv)
    if missing:
        raise ValueError(f"MHD header missing required keys: {sorted(missing)}")
    if kv["ElementType"] not in MHD_DTYPES:
        raise ValueError(f"unsupported ElementType {kv['ElementType']!r}")

    x, y, z = (int(v) for v in kv["DimSize"].split())
    spacing = [float(v) for v in kv.get("ElementSpacing", "1 1 1").split()]
    msb = kv.get("ByteOrderMSB", "False").lower() == "true"
    dtype = MHD_DTYPES[kv["ElementType"]]
    if msb:  # S2/T8 — normalize to native at ingest (:51-53, :82)
        dtype = dtype.newbyteorder(">")
    meta = VolumeMeta(
        z, y, x,
        spacing_z=spacing[2] if len(spacing) > 2 else spacing[0],
        spacing_y=spacing[1] if len(spacing) > 1 else spacing[0],
        spacing_x=spacing[0],
        element_type=kv["ElementType"],
        source=path,
    )
    data_file = kv["ElementDataFile"]
    if not os.path.isabs(data_file):
        data_file = os.path.join(os.path.dirname(path), data_file)
    return MhdHeader(meta, dtype, data_file, msb)


def read_mhd_chunks(spark, mhd_path: str, chunk: tuple[int, int, int] | None = None):
    """S3 — distributed chunked scan of the raw volume.

    Plans a chunk grid driver-side, then each Spark task range-reads its
    chunks: a chunk covering z∈[z0,z0+bz) needs ``bz`` contiguous
    (Y·X)-sized runs, read with seeks — out-of-core like the reference's
    memmap, but parallel across executors.  Payloads are normalized to
    native-endian uint32 (labels widen per §1.2).
    """
    hdr = parse_mhd(mhd_path)
    meta = hdr.meta
    dz, dy, dx = chunk or choose_chunks(meta.shape, hdr.dtype.itemsize)
    zdim, ydim, xdim = meta.shape
    ncz, ncy, ncx = -(-zdim // dz), -(-ydim // dy), -(-xdim // dx)
    itemsize = hdr.dtype.itemsize
    dtype_str = hdr.dtype.str
    data_file = hdr.data_file
    from pyspark.sql import functions as F

    n_cells = ncz * ncy * ncx
    # one wave of contiguous-cell tasks (volume.one_wave_partitions);
    # a hash repartition here would both add the scan's only exchange
    # and scatter cells away from z-contiguous sequential reads
    nparts = one_wave_partitions(
        n_cells, spark, cell_bytes=dz * dy * dx * 4  # decoded u4 payload
    )
    grid = spark.range(n_cells, numPartitions=nparts).select(
        (F.col("id") / (ncy * ncx)).cast("int").alias("cz"),
        ((F.col("id") / ncx) % ncy).cast("int").alias("cy"),
        (F.col("id") % ncx).cast("int").alias("cx"),
    )

    def read(batches):
        dt = np.dtype(dtype_str)
        # slab mode: one contiguous (by × xdim) read per z-plane instead
        # of `by` row reads — ~8× faster measured (sequential I/O beats
        # per-row seeks), at xdim/dx read amplification; fall back to
        # row reads when the chunk is a narrow sliver of a wide volume
        # (amplification > 8×), where the extra bytes would dominate
        slab_ok = xdim <= 8 * dx
        with open(data_file, "rb") as fh:
            for batch in batches:
                d = batch.to_pydict()
                for cz, cy, cx in zip(d["cz"], d["cy"], d["cx"]):
                    z0, y0, x0 = cz * dz, cy * dy, cx * dx
                    bz = min(dz, zdim - z0)
                    by = min(dy, ydim - y0)
                    bx = min(dx, xdim - x0)
                    block = np.empty((bz, by, bx), dtype=dt.newbyteorder("="))
                    for zi in range(bz):
                        if slab_ok:
                            off = ((z0 + zi) * ydim + y0) * xdim * itemsize
                            fh.seek(off)
                            slab = np.frombuffer(
                                fh.read(by * xdim * itemsize), dtype=dt
                            ).reshape(by, xdim)
                            block[zi] = slab[:, x0 : x0 + bx]
                        else:
                            for yi in range(by):
                                off = (
                                    ((z0 + zi) * ydim + y0 + yi) * xdim + x0
                                ) * itemsize
                                fh.seek(off)
                                block[zi, yi] = np.frombuffer(
                                    fh.read(bx * itemsize), dtype=dt
                                )
                    yield "mhd", (cz, cy, cx), (z0, y0, x0), block

    return grid.mapInArrow(chunk_kernel(read), schema=CHUNK_SCHEMA), hdr
