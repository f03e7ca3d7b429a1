"""Volume writers: partitioned parquet + JSON sidecar + pyramid store.

The reference writes chunked, compressed Zarr with destructive overwrite
and a JSON provenance sidecar (K1 ``upscale.py:22-24`` /
``upscale_streaming.py:119-140``; K2 compressor selection ``:103-108``;
K4 OME-Zarr pyramid ``upscale_streaming_enhance.py:190-268``).

Spark mapping: chunk-packed parquet partitioned by the chunk key —
``mode("overwrite")`` replaces rmtree+write (K3) transactionally;
parquet zstd/lz4 replaces Blosc+bitshuffle (K2); the pyramid becomes one
``level``-partitioned table whose base is cached before levels derive
from it (fixing the reference's per-level recompute, SURVEY.md §4.3.1).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from .. import fsutil
from ..volume import VolumeMeta

COMPRESSORS = {"zstd": "zstd", "lz4": "lz4", "none": "uncompressed"}


def write_volume(
    chunks: DataFrame,
    path: str,
    meta: VolumeMeta,
    scale: int = 1,
    compressor: str = "zstd",
    bloom_filter_cols: tuple[str, ...] = (),
) -> None:
    """K1+K2+K3+K5 — overwrite-write the chunk table + JSON sidecar.

    Partitioned by ``cz`` (the coarse chunk key): a query that filters
    ``cz`` prunes whole directories (``PartitionFilters`` in its scan),
    and parquet min/max stats on the pushed metadata predicates prune
    row groups within them — the Spark analog of Zarr's chunk grid
    addressing.  A query that filters only voxel coordinates, as
    ``point_lookup_chunks`` does, lists and scans every directory: the
    store does not record the chunk grid that maps a coordinate to its
    ``cz``.
    """
    if compressor not in COMPRESSORS:
        raise ValueError(f"compressor must be one of {sorted(COMPRESSORS)}")
    # per-write option, NOT the session conf — mutating the session codec
    # would silently change every later parquet write in the session
    writer = chunks.write.mode("overwrite").option(
        "compression", COMPRESSORS[compressor]
    )
    # bloom filters buy row-group skipping on high-cardinality point
    # predicates that min/max stats can't prune (e.g. "all chunks
    # containing label L" — labels are scattered, so stats ranges
    # overlap everywhere while a bloom answers 'definitely not here')
    for c in bloom_filter_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.partitionBy("cz").parquet(path)
    write_sidecar(chunks.sparkSession, path, meta, scale=scale, compressor=compressor)


def write_sidecar(spark, path: str, meta: VolumeMeta, **extra) -> None:
    """K5 — JSON provenance sidecar (upscale_streaming.py:130-140).

    Routed through the Hadoop FileSystem of ``spark`` (the session of
    the frame just written) so the sidecar lands on the same store as
    the chunk parquet (s3a/hdfs/local alike)."""
    payload = {
        "source": meta.source,
        "dims_zyx": list(meta.shape),
        "spacing_zyx_um": [meta.spacing_z, meta.spacing_y, meta.spacing_x],
        "element_type": meta.element_type,
        "written_unix": int(time.time()),
        **extra,
    }
    fsutil.write_json(
        spark, path.rstrip("/") + "/_volume_meta.json", payload, indent=2
    )


def write_pyramid(
    voxels: DataFrame,
    path: str,
    meta: VolumeMeta,
    levels: int,
    scale: int = 1,
    compressor: str = "zstd",
) -> None:
    """K4 — level-partitioned multiscale pyramid + multiscales metadata.

    ``meta`` describes the OUTPUT (level-0) volume: level i spacing =
    meta.spacing·2^i, which equals the reference's original/scale·2^i
    transform (upscale_streaming_enhance.py:229-243) since the level-0
    spacing is already original/scale.  ``scale`` is provenance only.
    The base is cached inside ``build_pyramid`` so each level derives
    from the previous one instead of re-running the whole upstream plan
    per level.
    """
    from ..operators.pyramid import build_pyramid, pyramid_scales

    if compressor not in COMPRESSORS:
        raise ValueError(f"compressor must be one of {sorted(COMPRESSORS)}")
    # cache the base here (not inside build_pyramid) so it can be
    # unpersisted after the single write — otherwise the full level-0
    # volume stays pinned in executor storage for the session lifetime
    base = voxels.cache()
    try:
        pyr = build_pyramid(base, levels=levels, cache_base=False)
        (
            pyr.write.mode("overwrite")
            .option("compression", COMPRESSORS[compressor])
            .partitionBy("level")
            .parquet(path)
        )
    finally:
        base.unpersist()
    scales = pyramid_scales(
        (meta.spacing_z, meta.spacing_y, meta.spacing_x), 1, levels
    )
    write_sidecar(
        voxels.sparkSession,
        path,
        meta,
        scale=scale,
        compressor=compressor,
        multiscales=[
            {"level": i, "spacing_zyx_um": list(s)} for i, s in enumerate(scales)
        ],
        image_label=True,
    )


def compact_table(
    spark,
    path: str,
    target_mb: int = 128,
) -> dict:
    """Small-file compaction — the maintenance companion of streaming
    ingestion (a drop-folder stream appends one file per trigger; after
    a day the table is thousands of KB-sized files and every scan pays
    per-file open/footer costs and schedules tiny tasks).

    Rewrites the table at ``target_mb`` per output file, preserving its
    partition layout: the partition columns are read from the table's
    own ``key=value`` directories, so a partitioned index is never
    rewritten flat (after a flat rewrite and one append, an index
    query reads only the appended partition directories and misses
    every compacted row).  The swap is ``fsutil.staged_swap`` (staged
    in ``path.__compact__``; sidecars and an index's ``_tombstones``
    kept — dropping them would revoke every pending takedown), with
    its single-writer, non-transactional contract.

    File count is sized from the table's actual on-disk bytes, not row
    counts, so heavily compressed columns don't over-split.

    Returns {"files_before", "files_after", "bytes"}.
    """
    before = fsutil.data_file_sizes(spark, path)
    total_bytes = sum(before)
    n_files = max(1, -(-total_bytes // (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    partition_cols = fsutil.partition_columns(spark, path)

    def write(staging: str) -> None:
        # repartition by the layout key (if any) so each output partition
        # dir gets whole files, then let the writer re-split directories
        df.repartition(int(n_files), *map(F.col, partition_cols)).write.mode(
            "overwrite"
        ).partitionBy(*partition_cols).parquet(staging)

    def check() -> int:
        after = fsutil.data_file_sizes(spark, path)
        if not after:
            raise RuntimeError(
                f"compaction swap produced no data files at {path}; "
                f"original preserved at {path.rstrip('/')}.__old__"
            )
        return len(after)

    files_after = fsutil.staged_swap(spark, path, ".__compact__", write, check)
    return {
        "files_before": len(before),
        "files_after": files_after,
        "bytes": total_bytes,
    }


def export_ordered(voxels: DataFrame, batch_size: int = 100_000) -> Iterator[Row]:
    """K6 — deterministic slice-ordered export iterator.

    ``orderBy(z,y,x)`` then ``toLocalIterator`` — the streaming BigTIFF
    writer analog (anno_upsampling.py:112-118): one ordered pass, driver
    holds one partition at a time, never the volume.
    """
    return voxels.orderBy("z", "y", "x").toLocalIterator(prefetchPartitions=True)


def export_tiff(
    voxels: DataFrame,
    path: str,
    meta: VolumeMeta,
    dtype: str = "uint32",
    rows_per_strip: int = 64,
    bigtiff: bool = True,
) -> None:
    """K6 — stream a COO volume into one multi-page TIFF.

    The literal analog of the reference's slice-wise BigTIFF export
    (``anno_upsampling.py:112-118`` passes ``bigtiff=True``, hence the
    default here — classic TIFF tops out at 4 GB): one ordered
    distributed pass, the driver assembles ONE (Y, X) plane at a time
    and appends it via ``TiffStackWriter`` — volume memory never lands
    on the driver.  Missing voxels (sparse COO) stay 0, matching the
    reference's zero-initialized target.
    """
    import numpy as np

    from ..sources.tiff import TiffStackWriter

    nz, ny, nx = meta.shape
    dt = np.dtype(dtype)
    with TiffStackWriter(path, rows_per_strip=rows_per_strip, bigtiff=bigtiff) as w:
        plane = np.zeros((ny, nx), dtype=dt)
        cur_z = 0
        for row in export_ordered(voxels):
            z = row["z"]
            while cur_z < z:  # flush finished planes (and any all-zero gaps)
                w.append(plane)
                plane[:] = 0
                cur_z += 1
            plane[row["y"], row["x"]] = row["label"]
        while cur_z < nz:
            w.append(plane)
            plane[:] = 0
            cur_z += 1
