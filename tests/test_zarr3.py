"""Zarr v3 + sharding_indexed: spec compliance, shard binary format,
round-trip fidelity.

zarr-python v3 isn't in the container, so the shard format is verified
the hard way: tests hand-parse shard files (index at end, uint64-LE
offset/nbytes pairs, crc32c) independently of the module's own reader,
and crc32c is checked against its published test vector.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow as pa
import pytest

from atlas_upscaling_dask_spark.sinks.zarr3 import (
    MISSING,
    crc32c,
    read_zarr3_level,
    scan_zarr3,
    write_zarr3,
)
from atlas_upscaling_dask_spark.volume import (
    PAYLOAD_DTYPE,
    VolumeMeta,
    chunks_to_voxels,
    synthetic_chunks,
)


def _dense(spark_df, shape):
    arr = np.zeros(shape, dtype=PAYLOAD_DTYPE)
    for r in chunks_to_voxels(spark_df).collect():
        arr[r["z"], r["y"], r["x"]] = r["label"]
    return arr


def test_crc32c_published_vectors():
    # RFC 3720 / crc32c reference vector
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0
    assert crc32c(b"\x00" * 32) == 0x8A9136AA  # iSCSI test vector


def test_zarr3_unsharded_roundtrip_and_metadata(spark, tmp_path):
    meta = VolumeMeta(16, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    out = str(tmp_path / "v3.zarr")
    receipts = write_zarr3(chunks, out, meta, codec="zstd", clevel=1)

    grp = json.load(open(os.path.join(out, "zarr.json")))
    assert grp["zarr_format"] == 3 and grp["node_type"] == "group"
    ome = grp["attributes"]["ome"]
    assert ome["version"] == "0.5"
    assert [a["name"] for a in ome["multiscales"][0]["axes"]] == ["z", "y", "x"]

    za = json.load(open(os.path.join(out, "0", "zarr.json")))
    assert za["zarr_format"] == 3 and za["node_type"] == "array"
    assert za["shape"] == [16, 16, 16] and za["data_type"] == "uint32"
    assert za["chunk_grid"]["configuration"]["chunk_shape"] == [8, 8, 8]
    assert za["codecs"][0]["name"] == "bytes"
    assert za["codecs"][1]["name"] == "zstd"
    assert za["dimension_names"] == ["z", "y", "x"]

    # chunk objects under c/z/y/x
    assert os.path.exists(os.path.join(out, "0", "c", "1", "0", "1"))
    assert receipts[0]["n_chunks"] + receipts[0]["n_skipped"] == 8

    np.testing.assert_array_equal(read_zarr3_level(out, 0), _dense(chunks, meta.shape))
    got = sorted(
        (r["z"], r["y"], r["x"], r["label"])
        for r in chunks_to_voxels(scan_zarr3(spark, out, 0)).collect()
    )
    want = sorted(
        (r["z"], r["y"], r["x"], r["label"])
        for r in chunks_to_voxels(chunks).collect()
    )
    assert got == want


def test_zarr3_sharded_roundtrip_objects_and_format(spark, tmp_path):
    # 4x2x2 chunk grid sharded (2,2,2) -> 2x1x1 shard objects
    meta = VolumeMeta(32, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    out = str(tmp_path / "v3s.zarr")
    receipts = write_zarr3(
        chunks, out, meta, codec="zstd", clevel=1, shard=(2, 2, 2)
    )
    assert receipts[0]["n_objects"] == 2  # 16 chunks -> 2 shards
    assert receipts[0]["n_chunks"] + receipts[0]["n_skipped"] == 16

    za = json.load(open(os.path.join(out, "0", "zarr.json")))
    sh = za["codecs"][0]
    assert sh["name"] == "sharding_indexed"
    assert za["chunk_grid"]["configuration"]["chunk_shape"] == [16, 16, 16]
    assert sh["configuration"]["chunk_shape"] == [8, 8, 8]
    assert [c["name"] for c in sh["configuration"]["index_codecs"]] == [
        "bytes",
        "crc32c",
    ]
    assert sh["configuration"]["index_location"] == "end"

    # hand-parse shard (0,0,0) independently of the module's reader:
    # tail = 8 inner entries x 16 bytes + 4-byte crc32c
    fpath = os.path.join(out, "0", "c", "0", "0", "0")
    blob = open(fpath, "rb").read()
    raw_idx, (crc,) = blob[-132:-4], struct.unpack("<I", blob[-4:])
    assert crc32c(raw_idx) == crc
    idx = np.frombuffer(raw_idx, dtype=np.uint64).reshape(8, 2)
    dense = _dense(chunks, meta.shape)
    # inner chunk (1,0,1) of shard (0,0,0) = volume block [8:16,0:8,8:16]
    pos = (1 * 2 + 0) * 2 + 1
    off, nb = int(idx[pos, 0]), int(idx[pos, 1])
    assert off != MISSING
    block = np.frombuffer(
        pa.Codec("zstd").decompress(
            blob[off : off + nb], decompressed_size=8 * 8 * 8 * 4
        ),
        dtype="<u4",
    ).reshape(8, 8, 8)
    np.testing.assert_array_equal(block, dense[8:16, 0:8, 8:16])

    # full fidelity both read paths
    np.testing.assert_array_equal(read_zarr3_level(out, 0), dense)
    got = sorted(
        (r["z"], r["y"], r["x"], r["label"])
        for r in chunks_to_voxels(scan_zarr3(spark, out, 0)).collect()
    )
    want = sorted(
        (r["z"], r["y"], r["x"], r["label"])
        for r in chunks_to_voxels(chunks).collect()
    )
    assert got == want


def test_zarr3_sharded_sparse_and_missing(spark, tmp_path):
    import pandas as pd

    # 2x2x2 chunk grid, ONE non-zero chunk, shard=(2,2,2): a single
    # shard object holding one inner chunk; 7 index slots MISSING
    meta = VolumeMeta(16, 16, 16)
    grid = [(cz, cy, cx) for cz in range(2) for cy in range(2) for cx in range(2)]
    corner = np.zeros((8, 8, 8), dtype=PAYLOAD_DTYPE)
    corner[:2, :2, :2] = 5
    pdf = pd.DataFrame(
        {
            "volume_id": ["v"] * 8,
            "cz": [g[0] for g in grid],
            "cy": [g[1] for g in grid],
            "cx": [g[2] for g in grid],
            "z0": [g[0] * 8 for g in grid],
            "y0": [g[1] * 8 for g in grid],
            "x0": [g[2] * 8 for g in grid],
            "dz": [8] * 8, "dy": [8] * 8, "dx": [8] * 8,
            "codec": ["raw"] * 8,
            "payload": [
                (corner if g == (1, 1, 1) else np.zeros((8, 8, 8), dtype=PAYLOAD_DTYPE)).tobytes()
                for g in grid
            ],
        }
    )
    out = str(tmp_path / "sparse3.zarr")
    receipts = write_zarr3(
        spark.createDataFrame(pdf), out, meta, shard=(2, 2, 2)
    )
    assert receipts[0]["n_objects"] == 1
    assert receipts[0]["n_chunks"] == 1 and receipts[0]["n_skipped"] == 7
    idx = np.frombuffer(
        open(os.path.join(out, "0", "c", "0", "0", "0"), "rb").read()[-132:-4],
        dtype=np.uint64,
    ).reshape(8, 2)
    assert int(idx[7, 0]) != MISSING  # inner (1,1,1) present
    assert sum(1 for k in range(8) if int(idx[k, 0]) == MISSING) == 7

    got = {
        (r["z"], r["y"], r["x"]): r["label"]
        for r in chunks_to_voxels(scan_zarr3(spark, out, 0)).collect()
    }
    assert len(got) == 16**3
    assert got[(8, 8, 8)] == 5 and got[(0, 0, 0)] == 0
    assert sum(1 for v in got.values() if v) == 8


def test_zarr3_edge_shards_and_partial_grid(spark, tmp_path):
    # 12^3 volume, 8^3 chunks (edge chunks partial), shard=(2,2,2):
    # one shard covers the whole 2x2x2 chunk grid incl. edge padding
    meta = VolumeMeta(12, 12, 12)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    out = str(tmp_path / "edge3.zarr")
    write_zarr3(chunks, out, meta, shard=(2, 2, 2))
    np.testing.assert_array_equal(read_zarr3_level(out, 0), _dense(chunks, meta.shape))
    got = sorted(
        (r["z"], r["y"], r["x"], r["label"])
        for r in chunks_to_voxels(scan_zarr3(spark, out, 0)).collect()
    )
    want = sorted(
        (r["z"], r["y"], r["x"], r["label"])
        for r in chunks_to_voxels(chunks).collect()
    )
    assert got == want


def test_zarr3_multilevel_pyramid(spark, tmp_path):
    from atlas_upscaling_dask_spark.operators.enhance import enhance_chunks

    meta = VolumeMeta(16, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    pyr = enhance_chunks(chunks, scale=1, outline=False, levels=2)
    out = str(tmp_path / "pyr3.zarr")
    write_zarr3(pyr, out, meta, shard=(2, 2, 2))
    base = _dense(chunks, meta.shape)
    np.testing.assert_array_equal(read_zarr3_level(out, 0), base)
    np.testing.assert_array_equal(read_zarr3_level(out, 1), base[::2, ::2, ::2])
    grp = json.load(open(os.path.join(out, "zarr.json")))
    ds = grp["attributes"]["ome"]["multiscales"][0]["datasets"]
    assert [d["path"] for d in ds] == ["0", "1"]


def test_zarr3_scan_foreign_store(spark, tmp_path):
    # a store this module did not write: uncompressed, unsharded,
    # hand-built metadata + raw chunk file
    out = str(tmp_path / "foreign3.zarr")
    os.makedirs(os.path.join(out, "0", "c", "1", "0"))
    with open(os.path.join(out, "0", "zarr.json"), "w") as fh:
        json.dump(
            {
                "zarr_format": 3,
                "node_type": "array",
                "shape": [8, 8, 8],
                "data_type": "uint32",
                "chunk_grid": {
                    "name": "regular",
                    "configuration": {"chunk_shape": [4, 4, 4]},
                },
                "chunk_key_encoding": {
                    "name": "default",
                    "configuration": {"separator": "/"},
                },
                "fill_value": 0,
                "codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}}
                ],
            },
            fh,
        )
    block = np.arange(64, dtype="<u4").reshape(4, 4, 4)
    with open(os.path.join(out, "0", "c", "1", "0", "1"), "wb") as fh:
        fh.write(block.tobytes())
    dense = read_zarr3_level(out, 0)
    np.testing.assert_array_equal(dense[4:8, 0:4, 4:8], block)
    got = {
        (r["z"], r["y"], r["x"]): r["label"]
        for r in chunks_to_voxels(scan_zarr3(spark, out, 0)).collect()
    }
    assert len(got) == 512 and sum(got.values()) == int(block.sum())


def test_zarr3_corrupt_shard_index_rejected(spark, tmp_path):
    meta = VolumeMeta(16, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    out = str(tmp_path / "crc3.zarr")
    write_zarr3(chunks, out, meta, shard=(2, 2, 2))
    fpath = os.path.join(out, "0", "c", "0", "0", "0")
    blob = bytearray(open(fpath, "rb").read())
    blob[-40] ^= 0xFF  # flip a bit inside the index body
    open(fpath, "wb").write(bytes(blob))
    with pytest.raises(Exception, match="crc32c"):
        read_zarr3_level(out, 0)


def test_zarr3_unsupported_codec_chain_named(tmp_path):
    from atlas_upscaling_dask_spark.sinks.zarr3 import _read_zarr3_meta

    out = str(tmp_path / "weird3.zarr")
    os.makedirs(os.path.join(out, "0"))
    with open(os.path.join(out, "0", "zarr.json"), "w") as fh:
        json.dump(
            {
                "zarr_format": 3,
                "node_type": "array",
                "shape": [4, 4, 4],
                "data_type": "uint32",
                "chunk_grid": {
                    "name": "regular",
                    "configuration": {"chunk_shape": [4, 4, 4]},
                },
                "chunk_key_encoding": {"name": "default"},
                "fill_value": 0,
                "codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "blosc", "configuration": {}},
                ],
            },
            fh,
        )
    with pytest.raises(ValueError, match="blosc"):
        _read_zarr3_meta(out, 0)


def test_zarr3_shard_validation_and_frame_consistency(spark, tmp_path):
    meta = VolumeMeta(16, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    with pytest.raises(ValueError, match="shard"):
        write_zarr3(chunks, str(tmp_path / "bad.zarr"), meta, shard=(0, 2, 2))

    # cz disagreeing with z0//kz must raise, not wrap into another
    # chunk's index slot
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "volume_id": ["v", "v"],
            "cz": [0, 9], "cy": [0, 0], "cx": [0, 0],  # cz=9 is a lie
            "z0": [0, 8], "y0": [0, 0], "x0": [0, 0],
            "dz": [8, 8], "dy": [8, 8], "dx": [8, 8],
            "codec": ["raw", "raw"],
            "payload": [
                np.ones((8, 8, 8), dtype=PAYLOAD_DTYPE).tobytes(),
                np.ones((8, 8, 8), dtype=PAYLOAD_DTYPE).tobytes(),
            ],
        }
    )
    with pytest.raises(Exception, match="disagree"):
        write_zarr3(
            spark.createDataFrame(pdf), str(tmp_path / "lie.zarr"),
            meta, shard=(2, 2, 2),
        )


def test_zarr3_inner_must_divide_shard(tmp_path):
    from atlas_upscaling_dask_spark.sinks.zarr3 import _read_zarr3_meta

    out = str(tmp_path / "odd.zarr")
    os.makedirs(os.path.join(out, "0"))
    with open(os.path.join(out, "0", "zarr.json"), "w") as fh:
        json.dump(
            {
                "zarr_format": 3,
                "node_type": "array",
                "shape": [20, 20, 20],
                "data_type": "uint32",
                "chunk_grid": {
                    "name": "regular",
                    "configuration": {"chunk_shape": [10, 10, 10]},
                },
                "chunk_key_encoding": {"name": "default"},
                "fill_value": 0,
                "codecs": [
                    {
                        "name": "sharding_indexed",
                        "configuration": {
                            "chunk_shape": [4, 4, 4],
                            "codecs": [
                                {"name": "bytes",
                                 "configuration": {"endian": "little"}}
                            ],
                            "index_codecs": [
                                {"name": "bytes",
                                 "configuration": {"endian": "little"}},
                                {"name": "crc32c"},
                            ],
                            "index_location": "end",
                        },
                    }
                ],
            },
            fh,
        )
    with pytest.raises(ValueError, match="divide"):
        _read_zarr3_meta(out, 0)


def test_zarr3_reader_ignores_stray_files(spark, tmp_path):
    meta = VolumeMeta(16, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    out = str(tmp_path / "stray.zarr")
    write_zarr3(chunks, out, meta, shard=(2, 2, 2))
    # NFS silly-rename + crashed temp publish artifacts
    open(os.path.join(out, "0", "c", ".nfs000001"), "wb").write(b"junk")
    open(os.path.join(out, "0", "c", "0", "0", "0.__tmp__1.abc"), "wb").write(b"junk")
    np.testing.assert_array_equal(read_zarr3_level(out, 0), _dense(chunks, meta.shape))


def test_zarr3_incremental_update_rewrites_only_touched_shards(spark, tmp_path):
    import pandas as pd

    from atlas_upscaling_dask_spark.sinks.zarr3 import update_zarr3

    # 4x2x2 chunk grid, shard=(2,2,2) -> 2 shard objects
    meta = VolumeMeta(32, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    out = str(tmp_path / "upd.zarr")
    write_zarr3(chunks, out, meta, shard=(2, 2, 2))
    s0 = os.path.join(out, "0", "c", "0", "0", "0")
    s1 = os.path.join(out, "0", "c", "1", "0", "0")
    before0 = open(s0, "rb").read()
    before1 = open(s1, "rb").read()

    # change ONE chunk in shard 1 (cz=2 -> skey 1); shard 0 untouched
    newblock = np.full((8, 8, 8), 77, dtype=PAYLOAD_DTYPE)
    upd = pd.DataFrame(
        {
            "volume_id": ["v"],
            "cz": [2], "cy": [0], "cx": [1],
            "z0": [16], "y0": [0], "x0": [8],
            "dz": [8], "dy": [8], "dx": [8],
            "codec": ["raw"],
            "payload": [newblock.tobytes()],
        }
    )
    res = update_zarr3(spark.createDataFrame(upd), out, level=0)
    assert res == {"n_shards": 1, "n_chunks": 1, "n_dropped": 0}
    assert open(s0, "rb").read() == before0  # untouched shard byte-identical
    assert open(s1, "rb").read() != before1

    dense = read_zarr3_level(out, 0)
    np.testing.assert_array_equal(dense[16:24, 0:8, 8:16], newblock)
    # every other chunk unchanged
    base = _dense(chunks, meta.shape)
    base[16:24, 0:8, 8:16] = 77
    np.testing.assert_array_equal(dense, base)

    # zero out that chunk again: it becomes MISSING in the index
    upd2 = upd.copy()
    upd2["payload"] = [np.zeros((8, 8, 8), dtype=PAYLOAD_DTYPE).tobytes()]
    res2 = update_zarr3(spark.createDataFrame(upd2), out, level=0)
    assert res2 == {"n_shards": 1, "n_chunks": 0, "n_dropped": 1}
    dense2 = read_zarr3_level(out, 0)
    base[16:24, 0:8, 8:16] = 0
    np.testing.assert_array_equal(dense2, base)

    # unsharded stores are not updatable in place
    out2 = str(tmp_path / "plain.zarr")
    write_zarr3(chunks, out2, meta)
    with pytest.raises(ValueError, match="unsharded"):
        update_zarr3(spark.createDataFrame(upd), out2, 0)


@pytest.mark.parametrize(
    "dims,chunk,shard",
    [
        ((9, 7, 5), (4, 4, 4), (3, 2, 1)),   # nothing divides anything
        ((3, 3, 3), (8, 8, 8), (2, 2, 2)),   # chunk larger than volume
        ((16, 16, 16), (8, 8, 8), (8, 8, 8)),  # shard larger than grid
        ((17, 8, 8), (8, 8, 8), (1, 1, 1)),  # 1-chunk shards
        ((8, 8, 8), (8, 8, 8), None),        # single chunk, unsharded
    ],
)
def test_zarr3_edge_geometries_roundtrip(spark, tmp_path, dims, chunk, shard):
    meta = VolumeMeta(*dims)
    chunks = synthetic_chunks(spark, meta, chunk=chunk)
    out = str(tmp_path / "geom.zarr")
    write_zarr3(chunks, out, meta, shard=shard)
    np.testing.assert_array_equal(read_zarr3_level(out, 0), _dense(chunks, dims))
    got = sorted(
        (r["z"], r["y"], r["x"], r["label"])
        for r in chunks_to_voxels(scan_zarr3(spark, out, 0)).collect()
    )
    want = sorted(
        (r["z"], r["y"], r["x"], r["label"])
        for r in chunks_to_voxels(chunks).collect()
    )
    assert got == want


def test_zarr3_update_edge_semantics(spark, tmp_path):
    import pandas as pd

    from atlas_upscaling_dask_spark.sinks.zarr3 import update_zarr3

    # one-shard store with a single present chunk
    meta = VolumeMeta(16, 16, 16)
    grid = [(cz, cy, cx) for cz in range(2) for cy in range(2) for cx in range(2)]
    corner = np.zeros((8, 8, 8), dtype=PAYLOAD_DTYPE)
    corner[0, 0, 0] = 3
    pdf = pd.DataFrame(
        {
            "volume_id": ["v"] * 8,
            "cz": [g[0] for g in grid], "cy": [g[1] for g in grid],
            "cx": [g[2] for g in grid],
            "z0": [g[0] * 8 for g in grid], "y0": [g[1] * 8 for g in grid],
            "x0": [g[2] * 8 for g in grid],
            "dz": [8] * 8, "dy": [8] * 8, "dx": [8] * 8,
            "codec": ["raw"] * 8,
            "payload": [
                (corner if g == (0, 0, 0) else np.zeros((8, 8, 8), dtype=PAYLOAD_DTYPE)).tobytes()
            for g in grid],
        }
    )
    out = str(tmp_path / "edgeupd.zarr")
    write_zarr3(spark.createDataFrame(pdf), out, meta, shard=(2, 2, 2))
    fpath = os.path.join(out, "0", "c", "0", "0", "0")
    before = open(fpath, "rb").read()

    zero = np.zeros((8, 8, 8), dtype=PAYLOAD_DTYPE).tobytes()

    def upd_frame(cz, cy, cx, payload):
        return spark.createDataFrame(pd.DataFrame({
            "volume_id": ["v"], "cz": [cz], "cy": [cy], "cx": [cx],
            "z0": [cz * 8], "y0": [cy * 8], "x0": [cx * 8],
            "dz": [8], "dy": [8], "dx": [8],
            "codec": ["raw"], "payload": [payload],
        }))

    # zeroing an ALREADY-ABSENT chunk is a pure no-op: no receipt, no write
    res = update_zarr3(upd_frame(1, 1, 1, zero), out, 0)
    assert res == {"n_shards": 0, "n_chunks": 0, "n_dropped": 0}
    assert open(fpath, "rb").read() == before

    # zeroing the LAST present chunk publishes an all-MISSING index
    # object (atomic old-or-new; never os.remove racing a reader)
    res = update_zarr3(upd_frame(0, 0, 0, zero), out, 0)
    assert res == {"n_shards": 1, "n_chunks": 0, "n_dropped": 1}
    assert os.path.exists(fpath)
    assert os.path.getsize(fpath) == 8 * 16 + 4  # bare index + crc
    assert not read_zarr3_level(out, 0).any()

    # a frame carrying rows for another level is rejected
    from pyspark.sql import functions as F

    lvl_frame = upd_frame(0, 0, 0, zero).withColumn("level", F.lit(1))
    with pytest.raises(ValueError, match="other levels"):
        update_zarr3(lvl_frame, out, 0)


def test_zarr3_scan_million_cell_grid_is_distributed(spark, tmp_path):
    # r6 verdict next-round #3: the v3 twin of
    # test_ome_zarr_scan_million_cell_grid_is_distributed.  A
    # metadata-only SHARDED store with a (100,100,100) shard grid has
    # exactly 10^6 shard cells; the scan's plan must source from Range
    # (arithmetic grid, nothing materialized on the driver) and the
    # fully sparse scan (zero shard objects -> all fill blocks)
    # completes.
    out = str(tmp_path / "big3.zarr")
    os.makedirs(os.path.join(out, "0"))
    with open(os.path.join(out, "0", "zarr.json"), "w") as fh:
        json.dump(
            {
                "zarr_format": 3,
                "node_type": "array",
                "shape": [400, 400, 400],
                "data_type": "uint32",
                "chunk_grid": {
                    "name": "regular",
                    "configuration": {"chunk_shape": [4, 4, 4]},
                },
                "chunk_key_encoding": {
                    "name": "default",
                    "configuration": {"separator": "/"},
                },
                "fill_value": 0,
                "codecs": [
                    {
                        "name": "sharding_indexed",
                        "configuration": {
                            "chunk_shape": [4, 4, 4],
                            "codecs": [
                                {
                                    "name": "bytes",
                                    "configuration": {"endian": "little"},
                                }
                            ],
                            "index_codecs": [
                                {
                                    "name": "bytes",
                                    "configuration": {"endian": "little"},
                                },
                                {"name": "crc32c"},
                            ],
                            "index_location": "end",
                        },
                    }
                ],
            },
            fh,
        )
    df = scan_zarr3(spark, out, 0)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" in plan and "LocalRelation" not in plan
    assert df.count() == 1_000_000


def test_zarr3_single_handle_survives_concurrent_shard_replace(spark, tmp_path):
    # The live-store contract: a reader that already opened a shard
    # must see a CONSISTENT (index, payload) pair even if an
    # update_zarr3/start_zarr3_ingestion os.replace swaps the file
    # between its reads — the open descriptor pins the old inode.
    # Simulate the race deterministically: open shard v1, replace the
    # path with a different v2 shard, then read index + chunk bytes
    # from the ORIGINAL handle and require v1 data back.
    from atlas_upscaling_dask_spark.sinks.zarr3 import (
        _read_shard_index_fh,
        update_zarr3,
    )

    meta = VolumeMeta(16, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    out = str(tmp_path / "race.zarr")
    write_zarr3(chunks, out, meta, shard=(2, 2, 2))
    fpath = os.path.join(out, "0", "c", "0", "0", "0")
    v1_bytes = open(fpath, "rb").read()
    v1_dense = read_zarr3_level(out, 0)

    fh = open(fpath, "rb")  # the "reader" arrives...
    try:
        # ...and the writer republishes the shard underneath it
        import pandas as pd

        delta = spark.createDataFrame(pd.DataFrame({
            "volume_id": ["v"], "cz": [0], "cy": [0], "cx": [0],
            "z0": [0], "y0": [0], "x0": [0], "dz": [8], "dy": [8], "dx": [8],
            "codec": ["raw"],
            "payload": [np.full((8, 8, 8), 9, dtype=PAYLOAD_DTYPE).tobytes()],
        }))
        res = update_zarr3(delta, out, 0)
        assert res["n_shards"] == 1
        assert open(fpath, "rb").read() != v1_bytes  # path now serves v2

        # the old handle still yields a self-consistent v1 view
        idx = _read_shard_index_fh(fh, 8)
        for pos, (iz, iy, ix) in enumerate(
            (a, b, c) for a in range(2) for b in range(2) for c in range(2)
        ):
            off, nb = int(idx[pos, 0]), int(idx[pos, 1])
            if off == MISSING:
                continue
            fh.seek(off)
            block = np.frombuffer(
                pa.Codec("zstd").decompress(
                    fh.read(nb), decompressed_size=8 * 8 * 8 * 4
                ),
                dtype="<u4",
            ).reshape(8, 8, 8)
            np.testing.assert_array_equal(
                block,
                v1_dense[iz * 8 : (iz + 1) * 8, iy * 8 : (iy + 1) * 8,
                         ix * 8 : (ix + 1) * 8],
            )
    finally:
        fh.close()
    # and a fresh open sees the committed v2
    assert (read_zarr3_level(out, 0)[:8, :8, :8] == 9).all()


def test_zarr3_reshard_geometries_and_sparsity(spark, tmp_path):
    from atlas_upscaling_dask_spark.sinks.zarr3 import reshard_zarr3

    meta = VolumeMeta(32, 32, 32)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))  # 4x4x4 grid
    src = str(tmp_path / "src.zarr")
    write_zarr3(chunks, src, meta, shard=(2, 2, 2))  # 8 shard objects
    dense = read_zarr3_level(src, 0)

    # retune to bigger shards: 8 objects -> 1
    big = str(tmp_path / "big.zarr")
    rec = reshard_zarr3(spark, src, big, shard=(4, 4, 4))
    assert rec[0]["n_objects"] == 1
    np.testing.assert_array_equal(read_zarr3_level(big, 0), dense)
    za = json.load(open(os.path.join(big, "0", "zarr.json")))
    assert za["codecs"][0]["configuration"]["chunk_shape"] == [8, 8, 8]

    # and back down to unsharded: one object per chunk
    flat = str(tmp_path / "flat.zarr")
    rec = reshard_zarr3(spark, big, flat, shard=None)
    assert rec[0]["n_objects"] == rec[0]["n_chunks"] == 64
    np.testing.assert_array_equal(read_zarr3_level(flat, 0), dense)

    # sparse stays sparse: zero a chunk via update, repack, and the
    # destination must OMIT it (scan synthesizes fill, writer re-drops)
    from atlas_upscaling_dask_spark.sinks.zarr3 import update_zarr3
    import pandas as pd

    zero = np.zeros((8, 8, 8), dtype=PAYLOAD_DTYPE).tobytes()
    update_zarr3(
        spark.createDataFrame(pd.DataFrame({
            "volume_id": ["v"], "cz": [0], "cy": [0], "cx": [0],
            "z0": [0], "y0": [0], "x0": [0], "dz": [8], "dy": [8], "dx": [8],
            "codec": ["raw"], "payload": [zero],
        })),
        src, 0,
    )
    sp = str(tmp_path / "sparse_flat.zarr")
    rec = reshard_zarr3(spark, src, sp, shard=None)
    assert rec[0]["n_skipped"] >= 1
    assert not os.path.exists(os.path.join(sp, "0", "c", "0", "0", "0"))
    got = read_zarr3_level(sp, 0)
    assert not got[:8, :8, :8].any()
    np.testing.assert_array_equal(got[8:], dense[8:])


def test_zarr3_reshard_preserves_spacing(spark, tmp_path):
    # the repack regenerates group metadata; the source's physical
    # voxel spacing must survive (a 10 um store must not come out 25 um)
    from atlas_upscaling_dask_spark.sinks.zarr3 import reshard_zarr3

    meta = VolumeMeta(16, 16, 16, 10.0, 12.0, 14.0)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    src = str(tmp_path / "sp_src.zarr")
    write_zarr3(chunks, src, meta, shard=(2, 2, 2))
    dst = str(tmp_path / "sp_dst.zarr")
    reshard_zarr3(spark, src, dst, shard=None)
    grp = json.load(open(os.path.join(dst, "zarr.json")))
    ds0 = grp["attributes"]["ome"]["multiscales"][0]["datasets"][0]
    scale = [
        t["scale"]
        for t in ds0["coordinateTransformations"]
        if t["type"] == "scale"
    ][0]
    assert scale == [10.0, 12.0, 14.0]


def test_zarr3_reshard_refuses_malformed_ome_metadata(spark, tmp_path):
    # Present-but-unparsable OME metadata must NOT silently fall back
    # to the 25 um default (that would repack the store wrong-sized);
    # only a store with no group metadata at all keeps defaults.
    from atlas_upscaling_dask_spark.sinks.zarr3 import reshard_zarr3

    meta = VolumeMeta(16, 16, 16, 10.0, 10.0, 10.0)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    src = str(tmp_path / "mal_src.zarr")
    write_zarr3(chunks, src, meta, shard=None)
    grp_path = os.path.join(src, "zarr.json")
    good = open(grp_path).read()

    # OME present but the scale transform is gone -> refuse
    grp = json.loads(good)
    ds0 = grp["attributes"]["ome"]["multiscales"][0]["datasets"][0]
    ds0["coordinateTransformations"] = [
        t for t in ds0["coordinateTransformations"] if t["type"] != "scale"
    ]
    open(grp_path, "w").write(json.dumps(grp))
    with pytest.raises(ValueError, match="refusing to default"):
        reshard_zarr3(spark, src, str(tmp_path / "d1.zarr"), shard=None)

    # OME present but the whole multiscales block is malformed -> refuse
    grp = json.loads(good)
    grp["attributes"]["ome"]["multiscales"] = []
    open(grp_path, "w").write(json.dumps(grp))
    with pytest.raises(ValueError, match="refusing to default"):
        reshard_zarr3(spark, src, str(tmp_path / "d2.zarr"), shard=None)

    # group metadata exists but is not even JSON -> refuse
    open(grp_path, "w").write("{not json")
    with pytest.raises(ValueError, match="unreadable"):
        reshard_zarr3(spark, src, str(tmp_path / "d3.zarr"), shard=None)

    # no group metadata at all (foreign store): defaults are fine
    os.remove(grp_path)
    reshard_zarr3(spark, src, str(tmp_path / "d4.zarr"), shard=None)
    dst_grp = json.load(open(os.path.join(tmp_path / "d4.zarr", "zarr.json")))
    ds0 = dst_grp["attributes"]["ome"]["multiscales"][0]["datasets"][0]
    scale = [
        t["scale"] for t in ds0["coordinateTransformations"]
        if t["type"] == "scale"
    ][0]
    assert scale == [25.0, 25.0, 25.0]

    # restore + control: intact metadata repacks and keeps 10 um
    open(grp_path, "w").write(good)
    reshard_zarr3(spark, src, str(tmp_path / "d5.zarr"), shard=None)
    dst_grp = json.load(open(os.path.join(tmp_path / "d5.zarr", "zarr.json")))
    ds0 = dst_grp["attributes"]["ome"]["multiscales"][0]["datasets"][0]
    scale = [
        t["scale"] for t in ds0["coordinateTransformations"]
        if t["type"] == "scale"
    ][0]
    assert scale == [10.0, 10.0, 10.0]


def test_zarr3_scan_and_update_tolerate_unlinked_shard(spark, tmp_path):
    # A shard unlinked after the store was written (concurrent pruner,
    # partial delete) must read as fill in scan_zarr3 and as "no
    # existing chunks" in update_zarr3's rewrite — never crash.
    from atlas_upscaling_dask_spark.sinks.zarr3 import update_zarr3
    import pandas as pd

    meta = VolumeMeta(16, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    out = str(tmp_path / "unlink.zarr")
    write_zarr3(chunks, out, meta, shard=(2, 2, 2))
    dense = read_zarr3_level(out, 0)
    assert dense.any()  # the store really had payload before the unlink
    # shard (2,2,2) over the 2x2x2 chunk grid -> ONE shard object holds
    # the whole volume; unlinking it must scan as all-fill, not crash
    os.remove(os.path.join(out, "0", "c", "0", "0", "0"))

    got = _dense(scan_zarr3(spark, out, 0), (16, 16, 16))
    assert not got.any()

    # updating one chunk of the unlinked shard recreates it with ONLY
    # that chunk present (the rest of the shard stays absent/fill)
    res = update_zarr3(
        spark.createDataFrame(pd.DataFrame({
            "volume_id": ["v"], "cz": [0], "cy": [0], "cx": [0],
            "z0": [0], "y0": [0], "x0": [0], "dz": [8], "dy": [8], "dx": [8],
            "codec": ["raw"],
            "payload": [np.full((8, 8, 8), 7, dtype=PAYLOAD_DTYPE).tobytes()],
        })),
        out, 0,
    )
    assert res["n_shards"] == 1
    after = read_zarr3_level(out, 0)
    assert (after[:8, :8, :8] == 7).all()
    # every other inner chunk of the recreated shard stays absent/fill
    assert not after[8:].any() and not after[:8, 8:].any()
    assert not after[:8, :8, 8:].any()


def test_zarr3_threaded_reader_vs_updater_stress(spark, tmp_path):
    # Platform-level torn-read stress: a driver-side reader loop races
    # real update_zarr3 publishes for several rounds.  Every read of
    # the updated chunk must be EITHER the initial pattern or one of
    # the uniformly-published values — an os.replace that tore a
    # (index, payload) pair or a crash in the reader fails the test.
    import threading

    from atlas_upscaling_dask_spark.sinks.zarr3 import update_zarr3
    import pandas as pd

    meta = VolumeMeta(16, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    out = str(tmp_path / "stress.zarr")
    write_zarr3(chunks, out, meta, shard=(2, 2, 2))
    initial = read_zarr3_level(out, 0)[:8, :8, :8].copy()

    stop = threading.Event()
    failures: list[str] = []
    reads = [0]

    def reader():
        while not stop.is_set():
            try:
                blk = read_zarr3_level(out, 0)[:8, :8, :8]
            except Exception as e:  # any crash is a failure
                failures.append(f"reader crashed: {e!r}")
                return
            reads[0] += 1
            vals = np.unique(blk)
            if np.array_equal(blk, initial):
                continue
            if len(vals) == 1 and 1 <= int(vals[0]) <= 5:
                continue
            failures.append(f"torn read: values {vals[:8].tolist()}")
            return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for v in range(1, 6):
            update_zarr3(
                spark.createDataFrame(pd.DataFrame({
                    "volume_id": ["v"], "cz": [0], "cy": [0], "cx": [0],
                    "z0": [0], "y0": [0], "x0": [0],
                    "dz": [8], "dy": [8], "dx": [8], "codec": ["raw"],
                    "payload": [
                        np.full((8, 8, 8), v, dtype=PAYLOAD_DTYPE).tobytes()
                    ],
                })),
                out, 0,
            )
    finally:
        stop.set()
        t.join(timeout=30)
    assert not failures, failures
    assert reads[0] > 0  # the reader actually raced the writer
    assert (read_zarr3_level(out, 0)[:8, :8, :8] == 5).all()


def test_zarr3_scan_huge_chunks_hit_byte_ceiling(spark, tmp_path):
    # Integration pin for volume.MAX_TASK_BYTES: a metadata-only store
    # whose grid is small enough for the wave policy (<= 2 waves) but
    # whose DECODED chunk payload is huge must plan MORE partitions so
    # no task owns > MAX_TASK_BYTES of logical payload — retry
    # granularity stays bounded on giant stores.
    from atlas_upscaling_dask_spark.volume import MAX_TASK_BYTES

    out = str(tmp_path / "hugechunk.zarr")
    os.makedirs(os.path.join(out, "0"))
    # 10x10x10 grid of 512^3 u4 chunks = 1000 cells x 512 MiB decoded
    # (512 GiB logical; fully sparse, so nothing is actually read)
    with open(os.path.join(out, "0", "zarr.json"), "w") as fh:
        json.dump(
            {
                "zarr_format": 3,
                "node_type": "array",
                "shape": [5120, 5120, 5120],
                "data_type": "uint32",
                "chunk_grid": {
                    "name": "regular",
                    "configuration": {"chunk_shape": [512, 512, 512]},
                },
                "chunk_key_encoding": {
                    "name": "default",
                    "configuration": {"separator": "/"},
                },
                "fill_value": 0,
                "codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}}
                ],
            },
            fh,
        )
    df = scan_zarr3(spark, out, 0)
    nparts = df.rdd.getNumPartitions()
    n_cells, cell_bytes = 10 * 10 * 10, 512**3 * 4
    par = max(spark.sparkContext.defaultParallelism, 1)
    # wave policy alone would plan `par` tasks (1000 cells < 64*par);
    # the ceiling must force enough tasks that the worst one stays
    # under MAX_TASK_BYTES, wave-aligned
    assert nparts > par or par >= n_cells
    assert -(-n_cells // nparts) * cell_bytes <= MAX_TASK_BYTES
    assert nparts % par == 0 or nparts == n_cells


def test_zarr3_file_as_grid_dir_reads_as_fill(spark, tmp_path):
    # A grid path COMPONENT that is a regular file (corrupt or foreign
    # store) resolves to "key absent" in zarr store semantics — zarr's
    # DirectoryStore answers KeyError -> fill for any key that doesn't
    # resolve to a chunk file — so the scan synthesizes fill for the
    # shadowed subtree instead of dying on NotADirectoryError.
    import shutil

    meta = VolumeMeta(16, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    out = str(tmp_path / "nad.zarr")
    write_zarr3(chunks, out, meta, shard=None)
    before = read_zarr3_level(out, 0)
    assert before[8:].any()  # the surviving half really has payload

    gdir = os.path.join(out, "0", "c", "0")
    shutil.rmtree(gdir)
    with open(gdir, "wb") as fh:
        fh.write(b"i am not a directory")

    got = _dense(scan_zarr3(spark, out, 0), (16, 16, 16))
    assert not got[:8].any()  # shadowed cz=0 subtree reads as fill
    np.testing.assert_array_equal(got[8:], before[8:])  # rest intact


def test_zarr3_reshard_refuses_multiple_scale_transforms(spark, tmp_path):
    # NGFF 0.5 allows exactly ONE scale transform per dataset; on a
    # nonconformant store carrying several, silently picking one
    # decides which physical spacing wins — reshard must refuse.
    from atlas_upscaling_dask_spark.sinks.zarr3 import reshard_zarr3

    meta = VolumeMeta(16, 16, 16, 10.0, 10.0, 10.0)
    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    src = str(tmp_path / "multi_src.zarr")
    write_zarr3(chunks, src, meta, shard=None)
    grp_path = os.path.join(src, "zarr.json")
    grp = json.load(open(grp_path))
    ds0 = grp["attributes"]["ome"]["multiscales"][0]["datasets"][0]
    ds0["coordinateTransformations"].append(
        {"type": "scale", "scale": [25.0, 25.0, 25.0]}
    )
    open(grp_path, "w").write(json.dumps(grp))
    with pytest.raises(ValueError, match="exactly one"):
        reshard_zarr3(spark, src, str(tmp_path / "multi_dst.zarr"), shard=None)


def _counted_pyramid(spark):
    """A two-level chunk frame behind a ``mapInArrow`` that adds its rows
    to an accumulator.  The writer cannot prune a Python kernel, so the
    accumulator counts how many times a write ran the upstream."""
    from pyspark.sql import functions as F

    from atlas_upscaling_dask_spark.operators.pyramid import decimate_chunks

    base = synthetic_chunks(spark, VolumeMeta(16, 16, 16), chunk=(8, 8, 8))
    frame = base.withColumn("level", F.lit(0)).unionByName(
        decimate_chunks(base, 2).withColumn("level", F.lit(1))
    )
    acc = spark.sparkContext.accumulator(0)

    def count(batches):
        for b in batches:
            acc.add(b.num_rows)
            yield b

    return frame.mapInArrow(count, schema=frame.schema), frame.count(), acc


def test_zarr3_write_runs_upstream_once(spark, tmp_path):
    # the level grids come from the write job's receipts: no pre-pass
    # recomputes the upstream kernels before the write
    frame, n_rows, acc = _counted_pyramid(spark)
    write_zarr3(
        frame, str(tmp_path / "once.zarr"), VolumeMeta(16, 16, 16),
        shard=(2, 2, 2),
    )
    assert acc.value == n_rows


def _gapped_frame(spark):
    # the cz=0 chunk is 4 deep but its cz=1 neighbour starts at z0=8 on
    # an 8-deep grid: z in [4, 8) is covered by no row
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                "volume_id": ["v", "v"],
                "cz": [0, 1], "cy": [0, 0], "cx": [0, 0],
                "z0": [0, 8], "y0": [0, 0], "x0": [0, 0],
                "dz": [4, 8], "dy": [8, 8], "dx": [8, 8],
                "codec": ["raw", "raw"],
                "payload": [
                    np.ones((4, 8, 8), dtype=PAYLOAD_DTYPE).tobytes(),
                    np.ones((8, 8, 8), dtype=PAYLOAD_DTYPE).tobytes(),
                ],
            }
        )
    )


def test_zarr3_gapped_frame_raises_and_leaves_no_store(spark, tmp_path):
    out = str(tmp_path / "gap.zarr")
    meta = VolumeMeta(16, 16, 16)
    with pytest.raises(ValueError, match="disagree"):
        write_zarr3(_gapped_frame(spark), out, meta, shard=(2, 2, 2))
    assert not any("zarr.json" in files for _, _, files in os.walk(out))

    chunks = synthetic_chunks(spark, meta, chunk=(8, 8, 8))
    write_zarr3(chunks, out, meta, shard=(2, 2, 2))
    np.testing.assert_array_equal(
        read_zarr3_level(out, 0), _dense(chunks, (16, 16, 16))
    )
