"""Zarr v3 writer + distributed scan, with the sharding_indexed codec.

Forward-looking twin of ``ome_zarr.py`` (Zarr v2 / OME-NGFF 0.4, the
reference's on-disk format): the ecosystem's current spec is **Zarr v3
+ OME-NGFF 0.5**, and its headline scale feature is **sharding** — many
chunks packed into one storage object with a binary index — which is
exactly what a 100 TB store needs on an object store: a (456,320,528)
volume at the reference's scale-15 output with 128³ chunks is ~12M
chunk objects unsharded; 8×8×8-chunk shards cut that to ~23k objects
while keeping sub-object range reads.  Everything here is hand-rolled
from the PUBLIC specs (zarr-specs v3 core + sharding codec + crc32c
checksum codec; OME-NGFF 0.5), no zarr-python required:

* array metadata ``zarr.json``: ``zarr_format`` 3, ``node_type``
  "array", regular ``chunk_grid``, ``chunk_key_encoding`` "default"
  ("/"-separated ``c/z/y/x`` keys), codec chain ``bytes``(little) →
  ``zstd``;
* sharded arrays swap the codec chain for ``sharding_indexed``: the
  chunk_grid addresses SHARDS, inner chunks live inside the shard
  followed (``index_location: end``) by an index of per-chunk
  ``(offset, nbytes)`` uint64-LE pairs in C order — missing chunk =
  ``(2^64-1, 2^64-1)`` — encoded with ``bytes`` + ``crc32c``
  (table-driven Castagnoli CRC, implemented here);
* group ``zarr.json``: ``node_type`` "group" with OME-NGFF 0.5
  ``attributes.ome.multiscales`` (same z/y/x micrometer axes and
  per-level scale transforms the reference writes for 0.4).

Scale design mirrors the v2 module: export is ONE exchange — a hash
repartition on the shard key + sortWithinPartitions so each task
streams its shards in key order, holding exactly one encoded shard in
memory before the atomic file publish (unsharded export is the same
zero-shuffle mapInArrow as v2).  A write is ONE Spark job: the kernels
infer each row's chunk shape from its own coordinates and return that
evidence in their receipts, the driver checks that every level sits on
one regular grid, and only then publishes the ``zarr.json`` documents —
metadata last, as the store's commit marker.  The scan derives the
shard grid arithmetically from ``spark.range`` (nothing materialized on
the driver), reads each shard's index executor-side, validates its
crc32c, and decodes only present inner chunks — absent inner chunks and
absent whole shards synthesize ``fill_value`` blocks in-kernel.  Output
batches come from the chunk emitter (``volume.chunk_kernel``), like every
other chunk-table kernel.
"""

from __future__ import annotations

import json
import os
import struct
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..volume import CHUNK_SCHEMA, PAYLOAD_DTYPE, VolumeMeta, chunk_kernel
from .ome_zarr import (
    _finish_grids,
    _note_grid,
    _padded_block,
    _put_bytes,
    _receipt_batches,
    _receipt_schema,
    _row_coords,
    _row_grid,
    _with_level,
)

MISSING = (1 << 64) - 1


# ---------------------------------------------------------------------------
# crc32c (Castagnoli, poly 0x1EDC6F41 reflected = 0x82F63B78) — the
# sharding index checksum codec.  Table-driven; indexes are tiny.
# ---------------------------------------------------------------------------


def _crc32c_table() -> np.ndarray:
    poly = np.uint32(0x82F63B78)
    table = np.zeros(256, dtype=np.uint32)
    for i in range(256):
        crc = np.uint32(i)
        for _ in range(8):
            crc = (crc >> np.uint32(1)) ^ (poly if crc & np.uint32(1) else np.uint32(0))
        table[i] = crc
    return table


_CRC32C_TABLE = _crc32c_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    tbl = _CRC32C_TABLE
    for b in data:
        crc = int(tbl[(crc ^ b) & 0xFF]) ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# codec chain (bytes little-endian → zstd|gzip|none), both directions
# ---------------------------------------------------------------------------


def _codecs_json(codec: str, clevel: int) -> list[dict]:
    chain: list[dict] = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if codec == "zstd":
        chain.append(
            {"name": "zstd", "configuration": {"level": int(clevel), "checksum": False}}
        )
    elif codec == "gzip":
        chain.append({"name": "gzip", "configuration": {"level": int(clevel)}})
    elif codec != "none":
        raise ValueError(f"codec must be 'zstd', 'gzip' or 'none', got {codec!r}")
    return chain


def _encode_chunk(raw: bytes, codec: str, clevel: int, zstd_codec=None) -> bytes:
    if codec == "zstd":
        c = zstd_codec or _zstd(clevel)
        return c.compress(raw).to_pybytes()
    if codec == "gzip":
        import gzip

        return gzip.compress(raw, clevel)
    return raw


def _zstd(level: int | None = None):
    if level is None:
        return pa.Codec("zstd")
    return pa.Codec("zstd", compression_level=level)


def _parse_codecs(codecs: list[dict]) -> tuple[str, dict | None]:
    """Validate a chunk codec chain; returns ('zstd'|'gzip'|'none',
    sharding_config|None).  Only chains this module can honor pass."""
    if codecs and codecs[0].get("name") == "sharding_indexed":
        if len(codecs) != 1:
            raise ValueError("sharding_indexed must be the sole top-level codec")
        return "shard", codecs[0]["configuration"]
    if not codecs or codecs[0].get("name") != "bytes":
        raise ValueError(f"unsupported codec chain {codecs!r} (need bytes first)")
    endian = (codecs[0].get("configuration") or {}).get("endian", "little")
    if endian != "little":
        raise ValueError("big-endian arrays unsupported")
    if len(codecs) == 1:
        return "none", None
    name = codecs[1].get("name")
    if name not in ("zstd", "gzip"):
        raise ValueError(f"unsupported compression codec {name!r}")
    if len(codecs) > 2:
        raise ValueError(f"unsupported codec chain tail {codecs[2:]!r}")
    return name, None


def _decode_chunk(data: bytes, codec: str, nbytes: int) -> bytes:
    if codec == "zstd":
        return _zstd().decompress(data, decompressed_size=nbytes)
    if codec == "gzip":
        import gzip

        return gzip.decompress(data)
    return data


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def write_zarr3(
    chunks: DataFrame,
    path: str,
    meta: VolumeMeta,
    codec: str = "zstd",
    clevel: int = 1,
    shard: tuple[int, int, int] | None = None,
    name: str = "labels",
    shapes: dict[int, tuple[int, int, int]] | None = None,
) -> dict:
    """Write a chunk-packed (optionally ``level``-stacked) volume as a
    Zarr v3 hierarchy with OME-NGFF 0.5 multiscale metadata; returns
    per-level receipts ``{level: {"n_objects", "n_chunks", "n_bytes",
    "n_skipped"}}``.

    ``shard`` — inner chunks per shard along (z,y,x); ``None`` writes
    one object per chunk (chunk keys ``c/z/y/x``), a tuple writes
    ``sharding_indexed`` shards (chunk grid addresses shards, index at
    end, crc32c-checked).  All-zero chunks are omitted (= fill_value);
    shards with no surviving chunk write no object at all.

    One Spark job: the write kernel (:func:`export_zarr3_frame`)
    publishes the chunk objects, and its receipts tell the driver each
    level's chunk shape and array shape (max origin+extent, overridden
    per level by ``shapes``).  A frame that does not sit on one regular
    grid per level, or whose levels are not 0..n-1, raises and leaves
    no store behind.  The ``zarr.json`` documents are published last:
    they are the commit marker, so a reader that finds them finds every
    chunk.  Overwrite is destructive (K3).
    """
    import shutil

    _check_shard(shard)
    _codecs_json(codec, clevel)  # reject a bad codec before the overwrite
    frame = export_zarr3_frame(chunks, path, codec, clevel, shard)
    if os.path.exists(path):
        shutil.rmtree(path)  # K3 destructive overwrite
    try:
        totals, grids = _finish_grids(
            frame.collect(), _COUNTERS3, shapes, "write_zarr3"
        )
    except Exception:
        shutil.rmtree(path, ignore_errors=True)
        raise
    _publish_metadata(path, grids, meta, codec, clevel, shard, name)
    return totals


def _publish_metadata(path, grids, meta, codec, clevel, shard, name) -> None:
    """Array ``zarr.json`` per level, then the group ``zarr.json`` that
    names them — written after every chunk object exists."""
    datasets = []
    for i in sorted(grids):
        kz, ky, kx, zd, yd, xd = grids[i]
        if shard is None:
            codecs = _codecs_json(codec, clevel)
            grid_shape = [kz, ky, kx]
        else:
            sz, sy, sx = shard
            codecs = [
                {
                    "name": "sharding_indexed",
                    "configuration": {
                        "chunk_shape": [kz, ky, kx],
                        "codecs": _codecs_json(codec, clevel),
                        "index_codecs": [
                            {"name": "bytes", "configuration": {"endian": "little"}},
                            {"name": "crc32c"},
                        ],
                        "index_location": "end",
                    },
                }
            ]
            grid_shape = [kz * sz, ky * sy, kx * sx]
        zarray = {
            "zarr_format": 3,
            "node_type": "array",
            "shape": [zd, yd, xd],
            "data_type": "uint32",
            "chunk_grid": {
                "name": "regular",
                "configuration": {"chunk_shape": grid_shape},
            },
            "chunk_key_encoding": {
                "name": "default",
                "configuration": {"separator": "/"},
            },
            "fill_value": 0,
            "codecs": codecs,
            "dimension_names": ["z", "y", "x"],
        }
        _put_bytes(
            os.path.join(path, str(i), "zarr.json"),
            json.dumps(zarray, indent=4).encode(),
        )
        datasets.append(
            {
                "path": str(i),
                "coordinateTransformations": [
                    {
                        "type": "scale",
                        "scale": [
                            meta.spacing_z * (2**i),
                            meta.spacing_y * (2**i),
                            meta.spacing_x * (2**i),
                        ],
                    }
                ],
            }
        )
    group = {
        "zarr_format": 3,
        "node_type": "group",
        "attributes": {
            "ome": {
                "version": "0.5",
                "multiscales": [
                    {
                        "name": name,
                        "axes": [
                            {"name": "z", "type": "space", "unit": "micrometer"},
                            {"name": "y", "type": "space", "unit": "micrometer"},
                            {"name": "x", "type": "space", "unit": "micrometer"},
                        ],
                        "datasets": datasets,
                    }
                ],
            }
        },
    }
    _put_bytes(os.path.join(path, "zarr.json"), json.dumps(group, indent=4).encode())


_COUNTERS3 = ("n_objects", "n_chunks", "n_bytes", "n_skipped")


def _check_shard(shard) -> None:
    if shard is not None and (
        len(shard) != 3 or any(int(s) < 1 for s in shard)
    ):
        raise ValueError(
            f"shard must be three positive chunk counts, got {shard!r}"
        )


def _compress_raw_payloads(chunks: DataFrame) -> DataFrame:
    """zstd-1-compress ``codec == 'raw'`` payloads inside the task that
    already holds them (guide §2.3, shuffle fewer bytes): label-volume
    payloads compress ~100×, so the shard-grouping exchange downstream
    moves megabytes instead of the full logical volume.  Rows whose
    payload is already compressed pass through untouched.  Result-
    invariant: every consumer decodes per row via the ``codec`` column
    (``_padded_block`` → ``_decode_payload``)."""
    schema = chunks.schema
    names = [f.name for f in schema.fields]
    ci, pi = names.index("codec"), names.index("payload")

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from atlas_upscaling_dask_spark.malloc_tuning import pin_large_alloc_reuse
        pin_large_alloc_reuse()
        zc = _zstd(1)
        for batch in batches:
            codecs = batch.column(ci).to_pylist()
            if "raw" not in codecs:
                yield batch
                continue
            payloads = batch.column(pi).to_pylist()
            for i, c in enumerate(codecs):
                if c == "raw":
                    payloads[i] = zc.compress(payloads[i]).to_pybytes()
                    codecs[i] = "zstd"
            arrays = list(batch.columns)
            arrays[ci] = pa.array(codecs, type=pa.string())
            arrays[pi] = pa.array(payloads, type=pa.binary())
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return chunks.mapInArrow(kernel, schema=schema)


def export_zarr3_frame(
    chunks: DataFrame,
    path: str,
    codec: str,
    clevel: int,
    shard: tuple[int, int, int] | None,
) -> DataFrame:
    """The unexecuted write-kernel frame (see ``export_ome_zarr_frame``
    for the audit rationale and the receipt's grid evidence).
    Unsharded: zero-shuffle mapInArrow.  Sharded: ONE hash exchange on
    (level, shard key) + in-partition sort, then a streaming kernel
    that holds one encoded shard."""
    cols = [
        "level", "cz", "cy", "cx", "z0", "y0", "x0", "dz", "dy", "dx",
        "codec", "payload",
    ]
    chunks = _with_level(chunks)
    schema = _receipt_schema(_COUNTERS3)
    if shard is None:
        return chunks.select(*cols).mapInArrow(
            _unsharded_kernel(path, codec, clevel), schema=schema
        )
    _check_shard(shard)
    sz, sy, sx = (int(s) for s in shard)
    # r12 (guide §2.3, shuffle fewer bytes): RAW payloads would cross
    # the shard-grouping exchange at full logical volume — 2.46 GB for
    # the 4× bench shape.  Compress them zstd-1 in the task that holds
    # them first (one narrow Arrow pass; label volumes compress ~100×),
    # so the exchange moves megabytes; the shard kernel already decodes
    # per-row via the ``codec`` column, so downstream is unchanged.
    # Already-compressed payloads pass through untouched.
    chunks = _compress_raw_payloads(chunks)
    keyed = chunks.select(
        *cols,
        F.expr(f"CAST(cz DIV {sz} AS INT)").alias("_sz"),
        F.expr(f"CAST(cy DIV {sy} AS INT)").alias("_sy"),
        F.expr(f"CAST(cx DIV {sx} AS INT)").alias("_sx"),
    )
    # explicit partition count: payloads cross this exchange compressed,
    # so AQE's byte-based coalescing would squeeze the CPU-bound
    # encode/assembly kernel onto a few cores (the repo's documented
    # pitfall — same fix as dedup.containment_join)
    n_part = int(chunks.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    spread = (
        keyed.repartition(n_part, "level", "_sz", "_sy", "_sx")
        .sortWithinPartitions("level", "_sz", "_sy", "_sx")
    )
    return spread.mapInArrow(
        _sharded_kernel(path, codec, clevel, (sz, sy, sx)), schema=schema
    )


def _unsharded_kernel(path, codec, clevel):
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from atlas_upscaling_dask_spark.malloc_tuning import pin_large_alloc_reuse
        pin_large_alloc_reuse()
        zc = _zstd(clevel) if codec == "zstd" else None
        stats: dict[int, list[int]] = {}
        for batch in batches:
            d = batch.to_pydict()
            for i in range(len(d["cz"])):
                lvl = d["level"][i]
                c, o, e = _row_coords(d, i)
                k = _row_grid("write_zarr3", lvl, c, o, e)
                st = _note_grid(stats, lvl, 4, k, o, e)
                raw = _padded_block(d, i, e, k)
                if raw is None:
                    st[3] += 1
                    continue
                data = _encode_chunk(raw, codec, clevel, zc)
                _put_bytes(
                    os.path.join(path, str(lvl), "c", *(str(v) for v in c)),
                    data,
                )
                st[0] += 1
                st[1] += 1
                st[2] += len(data)
        yield from _receipt_batches(stats, _COUNTERS3)

    return kernel


def _shard_bytes(parts: dict[tuple, bytes], shard: tuple) -> bytes:
    """One shard object: payload concat + (offset,nbytes) index in C
    order over the inner-chunk grid + crc32c, index at end."""
    sz, sy, sx = shard
    idx = np.full((sz * sy * sx, 2), MISSING, dtype=np.uint64)
    blobs: list[bytes] = []
    off = 0
    for (iz, iy, ix), data in sorted(parts.items()):
        pos = (iz * sy + iy) * sx + ix
        idx[pos, 0] = off
        idx[pos, 1] = len(data)
        blobs.append(data)
        off += len(data)
    raw_idx = idx.tobytes()
    return b"".join(blobs) + raw_idx + struct.pack("<I", crc32c(raw_idx))


def _sharded_kernel(path, codec, clevel, shard):
    sz, sy, sx = shard

    def flush(lvl, skey, parts, stats):
        if not parts:
            return
        payload = _shard_bytes(parts, shard)
        _put_bytes(
            os.path.join(path, str(lvl), "c", *(str(k) for k in skey)), payload
        )
        st = stats[lvl]
        st[0] += 1
        st[1] += len(parts)
        st[2] += len(payload)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from atlas_upscaling_dask_spark.malloc_tuning import pin_large_alloc_reuse
        pin_large_alloc_reuse()
        zc = _zstd(clevel) if codec == "zstd" else None
        stats: dict[int, list[int]] = {}
        cur = None  # (lvl, skey)
        parts: dict[tuple, bytes] = {}
        for batch in batches:
            d = batch.to_pydict()
            for i in range(len(d["cz"])):
                lvl = d["level"][i]
                c, o, e = _row_coords(d, i)
                # the row check ties the chunk coords the shard key was
                # hashed on to the origins, so the index slot below can
                # never wrap into another chunk's entry
                k = _row_grid("write_zarr3", lvl, c, o, e)
                skey = (d["_sz"][i], d["_sy"][i], d["_sx"][i])
                if cur is not None and (lvl, skey) != cur:
                    flush(cur[0], cur[1], parts, stats)
                    parts = {}
                cur = (lvl, skey)
                st = _note_grid(stats, lvl, 4, k, o, e)
                raw = _padded_block(d, i, e, k)
                if raw is None:
                    st[3] += 1
                    continue
                inner = (c[0] - skey[0] * sz, c[1] - skey[1] * sy,
                         c[2] - skey[2] * sx)
                parts[inner] = _encode_chunk(raw, codec, clevel, zc)
        if cur is not None:
            flush(cur[0], cur[1], parts, stats)
        yield from _receipt_batches(stats, _COUNTERS3)

    return kernel


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _read_zarr3_meta(path: str, level: int) -> dict:
    with open(os.path.join(path, str(level), "zarr.json")) as fh:
        meta = json.load(fh)
    if meta.get("zarr_format") != 3 or meta.get("node_type") != "array":
        raise ValueError("not a Zarr v3 array")
    if meta.get("data_type") != "uint32":
        raise ValueError(f"unsupported data_type {meta.get('data_type')!r}")
    cke = meta.get("chunk_key_encoding", {})
    if cke.get("name") != "default" or (
        cke.get("configuration") or {}
    ).get("separator", "/") != "/":
        raise ValueError(f"unsupported chunk_key_encoding {cke!r}")
    kind, shard_cfg = _parse_codecs(meta["codecs"])
    if kind == "shard":
        inner_kind, nested = _parse_codecs(shard_cfg["codecs"])
        if nested is not None or inner_kind == "shard":
            raise ValueError("nested sharding unsupported")
        idx_names = [c.get("name") for c in shard_cfg.get("index_codecs", [])]
        if idx_names != ["bytes", "crc32c"]:
            raise ValueError(f"unsupported index_codecs {idx_names!r}")
        if shard_cfg.get("index_location", "end") != "end":
            raise ValueError("index_location 'start' unsupported")
        inner_shape = list(shard_cfg["chunk_shape"])
        grid_shape = meta["chunk_grid"]["configuration"]["chunk_shape"]
        if len(inner_shape) != len(grid_shape) or any(
            k < 1 or g % k for g, k in zip(grid_shape, inner_shape)
        ):
            raise ValueError(
                f"inner chunk shape {inner_shape} must evenly divide the "
                f"shard shape {grid_shape}"
            )
        meta["_codec"] = inner_kind
        meta["_inner_chunk"] = inner_shape
    else:
        meta["_codec"] = kind
        meta["_inner_chunk"] = None
    return meta


def _read_shard_index_fh(fh, n: int) -> np.ndarray:
    """(n,2) uint64 (offset,nbytes) array from an OPEN shard file's
    tail; crc32c-validated.  Readers MUST take the index and the chunk
    ranges from the same handle: a concurrent ``os.replace`` publish
    swaps the directory entry, but an already-open descriptor keeps
    the old inode, so index and data stay mutually consistent (old
    shard or new shard, never old-index-over-new-data)."""
    size = 16 * n + 4
    fh.seek(-size, os.SEEK_END)
    tail = fh.read(size)
    raw, (crc,) = tail[:-4], struct.unpack("<I", tail[-4:])
    if crc32c(raw) != crc:
        raise ValueError(f"shard index crc32c mismatch in {fh.name}")
    return np.frombuffer(raw, dtype=np.uint64).reshape(n, 2)




def scan_zarr3(
    spark: SparkSession,
    path: str,
    level: int = 0,
    volume_id: str = "zarr3",
) -> DataFrame:
    """Distributed Zarr v3 level scan → chunk-packed frame.  Driver
    reads ONE ``zarr.json``; the grid derives arithmetically from
    ``spark.range`` (never materialized), presence is an executor-side
    probe, shard indexes are read and crc-checked in the kernel, and
    absent chunks/shards synthesize ``fill_value``.

    Parallelism is per INNER CHUNK, not per shard: the range enumerates
    ``shard_cell * chunks_per_shard + inner_pos``, so a store with few
    large shards (e.g. 8³-chunk shards sized for object-store listing)
    still spreads its decode across the cluster — a shard-granular scan
    caps at the shard count, which measured 1.6 s vs 0.93 s for an 8×
    LARGER store in the r7 bench.  Ids of one shard are contiguous, so
    each task opens a shard at most once (plus one straddle at each
    partition boundary), reading index + payloads from a single handle
    (torn-replace safety, ``_read_shard_index_fh``)."""
    meta = _read_zarr3_meta(path, level)
    zd, yd, xd = meta["shape"]
    gz, gy, gx = meta["chunk_grid"]["configuration"]["chunk_shape"]
    inner = meta["_inner_chunk"]
    codec = meta["_codec"]
    fill = meta.get("fill_value") or 0
    lvl_dir = os.path.join(path, str(level), "c")
    nz, ny, nx = -(-zd // gz), -(-yd // gy), -(-xd // gx)
    if inner is None:
        kz, ky, kx = gz, gy, gx
        sz = sy = sx = 1
    else:
        kz, ky, kx = inner
        sz, sy, sx = gz // kz, gy // ky, gx // kx
    n_inner = sz * sy * sx
    total = nz * ny * nx * n_inner
    from ..volume import one_wave_partitions

    gdf = spark.range(
        total,
        numPartitions=one_wave_partitions(
            total, spark, cell_bytes=kz * ky * kx * 4
        ),
    )

    def cells(batches: Iterator[pa.RecordBatch]):
        cur_key, fh, idx = None, None, None
        try:
            for batch in batches:
                for cell in batch.column(0).to_pylist():
                    scell, pos = divmod(cell, n_inner)
                    g0, r = divmod(scell, ny * nx)
                    g1, g2 = divmod(r, nx)
                    key = (g0, g1, g2)
                    if key != cur_key:
                        # new shard: one open serves its whole id run —
                        # index and payload ranges come from the same
                        # inode even if the shard is replaced mid-scan
                        # (see _read_shard_index_fh)
                        if fh is not None:
                            fh.close()
                        fh, idx, cur_key = None, None, key
                        fpath = os.path.join(
                            lvl_dir, str(g0), str(g1), str(g2)
                        )
                        try:
                            # open directly — an exists() probe first
                            # would race a concurrent unlink between
                            # the two calls; a missing shard (never
                            # written, or deleted mid-scan) uniformly
                            # synthesizes fill
                            fh = open(fpath, "rb")
                        except (FileNotFoundError, NotADirectoryError):
                            # a grid path component that is a regular
                            # file resolves to "key absent" in zarr
                            # store semantics -> synthesize fill
                            fh = None
                        if fh is not None and inner is not None:
                            idx = _read_shard_index_fh(fh, n_inner)
                    block = None
                    if inner is None:
                        if fh is not None:
                            fh.seek(0)
                            block = np.frombuffer(
                                _decode_chunk(
                                    fh.read(), codec, kz * ky * kx * 4
                                ),
                                dtype=PAYLOAD_DTYPE,
                            ).reshape(kz, ky, kx)
                        cz, cy, cx = g0, g1, g2
                    else:
                        iz, r2 = divmod(pos, sy * sx)
                        iy, ix = divmod(r2, sx)
                        cz = g0 * sz + iz
                        cy = g1 * sy + iy
                        cx = g2 * sx + ix
                        if idx is not None:
                            off, nb = int(idx[pos, 0]), int(idx[pos, 1])
                            if off != MISSING:
                                fh.seek(off)
                                block = np.frombuffer(
                                    _decode_chunk(
                                        fh.read(nb), codec, kz * ky * kx * 4
                                    ),
                                    dtype=PAYLOAD_DTYPE,
                                ).reshape(kz, ky, kx)
                    z0, y0, x0 = cz * kz, cy * ky, cx * kx
                    bz, by, bx = min(kz, zd - z0), min(ky, yd - y0), min(kx, xd - x0)
                    if bz <= 0 or by <= 0 or bx <= 0:
                        continue  # inner cell entirely past the array edge
                    if block is None:
                        block = np.full((bz, by, bx), fill, dtype=PAYLOAD_DTYPE)
                    yield volume_id, (cz, cy, cx), (z0, y0, x0), block[:bz, :by, :bx]
        finally:
            if fh is not None:
                fh.close()

    return gdf.mapInArrow(chunk_kernel(cells), schema=CHUNK_SCHEMA)


def reshard_zarr3(
    spark: SparkSession,
    src: str,
    dst: str,
    shard: tuple[int, int, int] | None,
    codec: str = "zstd",
    clevel: int = 1,
    name: str = "labels",
) -> dict:
    """Repack an existing Zarr v3 store into a new shard geometry (the
    object-store migration op: unsharded → sharded for object-count
    sanity, or shard-size retuning as access patterns change).  Every
    level of ``src`` is scanned (zero-shuffle, inner-chunk-parallel)
    and re-exported through the single shard-key exchange — chunk
    payloads move exactly once, and all-fill regions stay absent in
    ``dst`` (the scan synthesizes them, the writer re-omits them).
    The inner chunk grid is preserved; ``shard=None`` writes one object
    per chunk.  Returns the writer's per-level receipts."""
    from functools import reduce

    levels = []
    while os.path.exists(os.path.join(src, str(len(levels)), "zarr.json")):
        levels.append(len(levels))
    if not levels:
        raise ValueError(f"reshard_zarr3: no levels found under {src}")
    # carry the source's physical spacing through the repack: the dst
    # group metadata is regenerated, and defaulting VolumeMeta's 25 µm
    # would silently rescale a store whose multiscale transforms say
    # otherwise (viewers would render the migrated volume wrong-sized)
    spacing = (25.0, 25.0, 25.0)
    grp_path = os.path.join(src, "zarr.json")
    try:
        with open(grp_path) as fh:
            grp = json.load(fh)
    except FileNotFoundError:
        grp = None  # foreign store without group metadata: keep defaults
    except (OSError, ValueError) as e:
        # the file EXISTS but cannot be read/parsed — defaulting here
        # would silently rescale the migrated store (the exact failure
        # this docstring warns about), so refuse instead
        raise ValueError(
            f"reshard_zarr3: group metadata {grp_path} exists but is "
            f"unreadable ({e}); refusing to default to 25 um spacing"
        ) from e
    ome = ((grp or {}).get("attributes") or {}).get("ome")
    if ome is not None:
        # OME metadata is PRESENT: it must parse — a malformed
        # multiscales block must not silently fall back to defaults
        try:
            ds0 = ome["multiscales"][0]["datasets"][0]
            scales = [
                t["scale"]
                for t in ds0.get("coordinateTransformations", [])
                if t.get("type") == "scale" and len(t.get("scale", [])) == 3
            ]
            spacing = tuple(float(v) for v in scales[0])
        except (KeyError, IndexError, TypeError, ValueError) as e:
            raise ValueError(
                f"reshard_zarr3: OME metadata present in {grp_path} but "
                f"no 3-axis scale transform could be parsed ({e}); "
                "refusing to default to 25 um spacing"
            ) from e
        if len(scales) > 1:
            # NGFF 0.5 allows exactly one scale transform per dataset;
            # picking one of several silently decides which physical
            # spacing wins — refuse instead
            raise ValueError(
                f"reshard_zarr3: {len(scales)} scale transforms in "
                f"{grp_path}; NGFF allows exactly one"
            )
    shapes: dict[int, tuple[int, int, int]] = {}
    frames = []
    for lvl in levels:
        m = _read_zarr3_meta(src, lvl)
        if m.get("fill_value") not in (0, None):
            # the writer's all-zero⇒absent omission is only fill-exact
            # for zero-fill stores (same contract as update_zarr3)
            raise ValueError(
                f"reshard_zarr3: source fill_value {m.get('fill_value')!r}"
                " != 0; only zero-fill stores repack losslessly"
            )
        shapes[lvl] = tuple(m["shape"])
        frames.append(
            scan_zarr3(spark, src, lvl).withColumn(
                "level", F.lit(int(lvl)).cast("int")
            )
        )
    stacked = reduce(DataFrame.unionByName, frames)
    meta = VolumeMeta(*shapes[0], *spacing)
    return write_zarr3(
        stacked, dst, meta,
        codec=codec, clevel=clevel, shard=shard, name=name, shapes=shapes,
    )


def read_zarr3_level(path: str, level: int = 0) -> np.ndarray:
    """Driver-side dense assembly of one level (tooling/verification
    twin, like ``read_zarr_level`` for v2) — walks present objects."""
    meta = _read_zarr3_meta(path, level)
    zd, yd, xd = meta["shape"]
    gz, gy, gx = meta["chunk_grid"]["configuration"]["chunk_shape"]
    inner, codec = meta["_inner_chunk"], meta["_codec"]
    fill = meta.get("fill_value") or 0
    out = np.full((zd, yd, xd), fill, dtype=PAYLOAD_DTYPE)
    lvl_dir = os.path.join(path, str(level), "c")
    if not os.path.isdir(lvl_dir):
        return out
    kz, ky, kx = inner or (gz, gy, gx)
    from .ome_zarr import _list_chunk_files

    # same nested c/z/y/x walk + stray-file filter as the v2 reader
    for g, fpath in _list_chunk_files(lvl_dir, {"dimension_separator": "/"}):
        if inner is None:
            with open(fpath, "rb") as fh:
                data = fh.read()
            block = np.frombuffer(
                _decode_chunk(data, codec, kz * ky * kx * 4),
                dtype=PAYLOAD_DTYPE,
            ).reshape(kz, ky, kx)
            _paste(out, g, (kz, ky, kx), block)
        else:
            sz, sy, sx = gz // kz, gy // ky, gx // kx
            with open(fpath, "rb") as fh:
                idx = _read_shard_index_fh(fh, sz * sy * sx)
                for iz in range(sz):
                    for iy in range(sy):
                        for ix in range(sx):
                            pos = (iz * sy + iy) * sx + ix
                            off, nb = int(idx[pos, 0]), int(idx[pos, 1])
                            if off == MISSING:
                                continue
                            fh.seek(off)
                            block = np.frombuffer(
                                _decode_chunk(
                                    fh.read(nb), codec, kz * ky * kx * 4
                                ),
                                dtype=PAYLOAD_DTYPE,
                            ).reshape(kz, ky, kx)
                            _paste(
                                out,
                                (g[0] * sz + iz, g[1] * sy + iy, g[2] * sx + ix),
                                (kz, ky, kx),
                                block,
                            )
    return out


def _paste(out, cidx, kshape, block):
    sl = tuple(
        slice(c * k, min((c + 1) * k, s))
        for c, k, s in zip(cidx, kshape, out.shape)
    )
    if any(s.stop <= s.start for s in sl):
        return
    out[sl] = block[tuple(slice(0, s.stop - s.start) for s in sl)]


# ---------------------------------------------------------------------------
# incremental shard maintenance
# ---------------------------------------------------------------------------


def update_zarr3(
    chunks: DataFrame,
    path: str,
    level: int = 0,
) -> dict:
    """Incrementally update a SHARDED Zarr v3 level in place: only the
    shards containing a changed chunk are rewritten, and within a
    rewritten shard the untouched inner chunks are BYTE-COPIED from the
    existing object (no decode/re-encode).  The 100 TB maintenance
    story: a pipeline that touched 0.1% of the volume republishes 0.1%
    of the shard objects, not the store (complements
    ``operators/incremental``'s derived-chunk CDC, which computes WHICH
    chunks changed).

    ``chunks`` carries the changed chunks for ONE level in the store's
    grid (all-zero payload = the chunk becomes fill/absent).  Data
    movement: the same single shard-key exchange as the full export.
    Returns ``{"n_shards": rewritten, "n_chunks": replaced,
    "n_dropped": zeroed}``.  Publishes via the same atomic
    temp+rename as every writer here; a concurrent reader sees the old
    or the new shard, never a torn one.
    """
    res = (
        _update_zarr3_plan(chunks, path, level)
        .agg(
            F.sum("n_shards").alias("n_shards"),
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("n_dropped").alias("n_dropped"),
        )
        .collect()[0]
    )
    return {
        "n_shards": int(res["n_shards"] or 0),
        "n_chunks": int(res["n_chunks"] or 0),
        "n_dropped": int(res["n_dropped"] or 0),
    }


def _update_zarr3_plan(
    chunks: DataFrame,
    path: str,
    level: int = 0,
) -> DataFrame:
    """Build (lazily) the distributed plan behind :func:`update_zarr3`:
    ONE hash exchange on the shard key feeding the shard-merge kernel.
    Split out so the plan auditor can assert that invariant without
    executing the side-effecting kernel."""
    meta = _read_zarr3_meta(path, level)
    if meta["_inner_chunk"] is None:
        raise ValueError("update_zarr3: store is unsharded — use write_zarr3")
    if meta.get("fill_value") not in (0, None):
        # the all-zero⇒absent demotion below is only correct when
        # absent means zero; a foreign store with fill_value=7 would
        # silently read back 7s where the update wrote 0s
        raise ValueError(
            f"update_zarr3: store fill_value {meta.get('fill_value')!r} != 0; "
            "in-place updates support zero-fill stores only"
        )
    if "level" in chunks.columns:
        # a pyramid CDC frame carries a level column; silently stamping
        # every row with the target level would splice level-1 chunks
        # into level-0 shards
        # null-safe: a NULL level is just as much "not this level" as a
        # wrong one — plain != would drop NULL rows from the probe and
        # silently stamp them with the target level below
        stray = (
            chunks.filter(~F.col("level").eqNullSafe(int(level)))
            .limit(1)
            .count()
        )
        if stray:
            raise ValueError(
                f"update_zarr3: frame contains rows for other levels; "
                f"filter to level {level} (or update each level separately)"
            )
        chunks = chunks.drop("level")
    kz, ky, kx = meta["_inner_chunk"]
    gz, gy, gx = meta["chunk_grid"]["configuration"]["chunk_shape"]
    sz, sy, sx = gz // kz, gy // ky, gx // kx
    codec = meta["_codec"]
    clevel = 1
    for c in (meta["codecs"][0]["configuration"]["codecs"] or []):
        if c.get("name") in ("zstd", "gzip"):
            clevel = int((c.get("configuration") or {}).get("level", 1))
    lvl_dir = os.path.join(path, str(level), "c")

    cols = [
        "cz", "cy", "cx", "z0", "y0", "x0", "dz", "dy", "dx",
        "codec", "payload",
    ]
    keyed = chunks.select(
        F.lit(int(level)).cast("int").alias("level"),
        *cols,
        F.expr(f"CAST(cz DIV {sz} AS INT)").alias("_sz"),
        F.expr(f"CAST(cy DIV {sy} AS INT)").alias("_sy"),
        F.expr(f"CAST(cx DIV {sx} AS INT)").alias("_sx"),
    )
    n_part = int(chunks.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    spread = (
        keyed.repartition(n_part, "_sz", "_sy", "_sx")
        .sortWithinPartitions("_sz", "_sy", "_sx")
    )

    n_inner = sz * sy * sx

    def rewrite(skey, parts, stats):
        """Merge changed inner chunks into the existing shard object."""
        fpath = os.path.join(lvl_dir, *(str(k) for k in skey))
        existing: dict[tuple, bytes] = {}
        try:
            # open directly (no exists() probe) so a shard unlinked
            # concurrently reads as "no existing chunks" instead of
            # crashing between the probe and the open
            fh_or_none = open(fpath, "rb")
        except (FileNotFoundError, NotADirectoryError):
            # zarr store semantics: a key whose path component is a
            # regular file is simply absent -> no existing chunks
            fh_or_none = None
        if fh_or_none is not None:
            with fh_or_none as fh:
                idx = _read_shard_index_fh(fh, n_inner)
                for iz in range(sz):
                    for iy in range(sy):
                        for ix in range(sx):
                            pos = (iz * sy + iy) * sx + ix
                            off, nb = int(idx[pos, 0]), int(idx[pos, 1])
                            if off == MISSING:
                                continue
                            fh.seek(off)
                            existing[(iz, iy, ix)] = fh.read(nb)
        changed = False
        for inner, data in parts.items():
            if data is None:
                if existing.pop(inner, None) is not None:
                    stats[2] += 1  # count only chunks that WERE present
                    changed = True
            else:
                existing[inner] = data
                stats[1] += 1
                changed = True
        if not changed:
            return  # pure no-op (e.g. zeroing an already-absent chunk)
        # a shard left with no chunk publishes an all-MISSING index
        # rather than os.remove — keeps the atomic old-or-new visibility
        # contract (a concurrent scan's exists() probe + open would
        # otherwise race a deletion)
        _put_bytes(fpath, _shard_bytes(existing, (sz, sy, sx)))
        stats[0] += 1

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from atlas_upscaling_dask_spark.malloc_tuning import pin_large_alloc_reuse
        pin_large_alloc_reuse()
        zc = _zstd(clevel) if codec == "zstd" else None
        stats = [0, 0, 0]  # shards rewritten, chunks replaced, dropped
        cur = None
        parts: dict[tuple, bytes | None] = {}
        for batch in batches:
            d = batch.to_pydict()
            for i in range(len(d["cz"])):
                c, o, e = _row_coords(d, i)
                # on the store's grid, so the slot stays inside the shard
                _row_grid("update_zarr3", level, c, o, e, (kz, ky, kx))
                raw = _padded_block(d, i, e, (kz, ky, kx))
                skey = (d["_sz"][i], d["_sy"][i], d["_sx"][i])
                if cur is not None and skey != cur:
                    rewrite(cur, parts, stats)
                    parts = {}
                cur = skey
                inner = (c[0] - skey[0] * sz, c[1] - skey[1] * sy,
                         c[2] - skey[2] * sx)
                parts[inner] = (
                    None if raw is None else _encode_chunk(raw, codec, clevel, zc)
                )
        if cur is not None:
            rewrite(cur, parts, stats)
        yield pa.RecordBatch.from_arrays(
            [pa.array([v], type=pa.int64()) for v in stats],
            ["n_shards", "n_chunks", "n_dropped"],
        )

    return spread.mapInArrow(
        kernel, schema="n_shards long, n_chunks long, n_dropped long"
    )
