"""Source (MHD), sink (writer/pyramid/export), and planner tests."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from atlas_upscaling_dask_spark.volume import (
    FIXTURE_META,
    VolumeMeta,
    chunks_to_voxels,
    synthetic_voxels,
    voxels_to_chunks,
)


def _write_mhd(tmp_path, arr: np.ndarray, spacing=(25.0, 25.0, 25.0), msb=False):
    raw = tmp_path / "vol.raw"
    data = arr.astype(">u4" if msb else "<u4")
    raw.write_bytes(data.tobytes())
    z, y, x = arr.shape
    hdr = tmp_path / "vol.mhd"
    hdr.write_text(
        "ObjectType = Image\n"
        "NDims = 3\n"
        f"DimSize = {x} {y} {z}\n"
        f"ElementSpacing = {spacing[2]} {spacing[1]} {spacing[0]}\n"
        "ElementType = MET_UINT\n"
        f"ByteOrderMSB = {msb}\n"
        "ElementDataFile = vol.raw\n"
    )
    return str(hdr)


@pytest.mark.parametrize("msb", [False, True])
def test_mhd_roundtrip(spark, tmp_path, msb):
    # S1-S3 + T8: header parse, chunked range-read scan, endianness
    # normalization (upscale_streaming.py:23-57,82)
    from atlas_upscaling_dask_spark.sources.mhd import parse_mhd, read_mhd_chunks

    rng = np.random.default_rng(42)
    arr = rng.integers(0, 2**31, size=(12, 10, 14), dtype=np.uint32)
    path = _write_mhd(tmp_path, arr, msb=msb)

    hdr = parse_mhd(path)
    assert hdr.meta.shape == (12, 10, 14)
    assert hdr.meta.spacing_z == 25.0
    assert hdr.spark_type == "bigint"  # uint32 widens to long (§1.2)

    chunks, _ = read_mhd_chunks(spark, path, chunk=(5, 6, 7))
    vox = chunks_to_voxels(chunks).collect()
    assert len(vox) == 12 * 10 * 14
    for r in vox[:50]:
        assert r["label"] == int(arr[r["z"], r["y"], r["x"]])


def test_mhd_missing_keys(tmp_path):
    from atlas_upscaling_dask_spark.sources.mhd import parse_mhd

    bad = tmp_path / "bad.mhd"
    bad.write_text("ObjectType = Image\nNDims = 3\n")
    with pytest.raises(ValueError, match="missing required keys"):
        parse_mhd(str(bad))


def test_write_volume_and_sidecar(spark, tmp_path):
    from atlas_upscaling_dask_spark.sinks.writer import write_volume

    out = str(tmp_path / "vol_out")
    vox = synthetic_voxels(spark)
    chunks = voxels_to_chunks(vox, FIXTURE_META, chunk=(8, 8, 8))
    write_volume(chunks, out, FIXTURE_META, scale=1, compressor="zstd")

    side = json.load(open(os.path.join(out, "_volume_meta.json")))
    assert side["dims_zyx"] == [16, 16, 16] and side["compressor"] == "zstd"
    back = chunks_to_voxels(spark.read.parquet(out))
    assert back.count() == 4096
    # partitioned by cz → directory-level pruning for z-slab queries
    assert any(d.startswith("cz=") for d in os.listdir(out))


def test_write_volume_rejects_bad_compressor(spark, tmp_path):
    from atlas_upscaling_dask_spark.sinks.writer import write_volume

    with pytest.raises(ValueError, match="compressor"):
        write_volume(
            voxels_to_chunks(synthetic_voxels(spark), FIXTURE_META),
            str(tmp_path / "x"),
            FIXTURE_META,
            compressor="gzip9",
        )


def test_write_pyramid(spark, tmp_path):
    from atlas_upscaling_dask_spark.sinks.writer import write_pyramid

    out = str(tmp_path / "pyr_out")
    # meta describes the OUTPUT volume: spacing is already final (e.g. a
    # x2-upscaled 25 µm atlas has 12.5 µm level-0 spacing)
    out_meta = VolumeMeta(16, 16, 16, 12.5, 12.5, 12.5)
    write_pyramid(synthetic_voxels(spark), out, out_meta, levels=3, scale=2)
    pyr = spark.read.parquet(out)
    counts = {r["level"]: r["n"] for r in pyr.groupBy("level").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 4096, 1: 512, 2: 64}
    side = json.load(open(os.path.join(out, "_volume_meta.json")))
    # level-i spacing = level0·2^i ≡ original/scale·2^i
    # (upscale_streaming_enhance.py:229-243)
    assert side["multiscales"][0]["spacing_zyx_um"] == [12.5, 12.5, 12.5]
    assert side["multiscales"][1]["spacing_zyx_um"] == [25.0, 25.0, 25.0]
    assert side["image_label"] is True


def test_export_ordered(spark):
    from atlas_upscaling_dask_spark.sinks.writer import export_ordered

    vox = synthetic_voxels(spark, VolumeMeta(4, 4, 4))
    rows = list(export_ordered(vox))
    coords = [(r["z"], r["y"], r["x"]) for r in rows]
    assert coords == sorted(coords)
    assert len(coords) == 64


def test_plan_and_guards():
    from atlas_upscaling_dask_spark.plans.estimate import (
        AdmissionError,
        check_admission,
        estimate_output_bytes,
        plan_upscale,
    )

    meta = VolumeMeta(456, 320, 528)
    # P2 golden: ×2 on the reference volume ≈ 2.46 GB logical (BASELINE.md)
    assert estimate_output_bytes(meta, 2, 4) == 456 * 320 * 528 * 8 * 4
    plan = plan_upscale(meta, 2)
    assert f"{456 * 320 * 528 * 8 * 4 / 1e9:.2f} GB" in plan.describe()

    with pytest.raises(AdmissionError, match="x21"):
        check_admission(plan_upscale(meta, 21))
    with pytest.raises(AdmissionError, match="max-gb"):
        check_admission(plan, max_gb=1.0)
    check_admission(plan_upscale(meta, 21), force=True)  # force bypasses


def test_cli_dry_run(tmp_path, capsys):
    from atlas_upscaling_dask_spark.cli import main

    rc = main(
        [
            "upscale",
            "--input", "synthetic",
            "--output", str(tmp_path / "o"),
            "--scale", "2",
            "--dry-run",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0 and "dry run" in out and "output shape" in out


def test_cli_guard_refuses(tmp_path, capsys):
    from atlas_upscaling_dask_spark.cli import main

    rc = main(
        [
            "upscale",
            "--input", "synthetic",
            "--output", str(tmp_path / "o"),
            "--scale", "25",
            "--dry-run",
        ]
    )
    assert rc == 2
    assert "REFUSED" in capsys.readouterr().err


def test_regions_csv_loader(spark, tmp_path):
    # S5 — CSV scan with explicit schema (lookup_test.py:11 analog)
    from atlas_upscaling_dask_spark.operators.relational import load_regions_csv

    csv = tmp_path / "regions.csv"
    csv.write_text(
        "region,region_abbr,region_name,level,parent\n"
        "15564,MO,somatomotor areas,1,15500\n"
        "15500,ROOT,mouse,-1,0\n"
    )
    df = load_regions_csv(spark, str(csv))
    rows = {r["region"]: r for r in df.collect()}
    assert rows[15564]["region_name"] == "somatomotor areas"
    assert rows[15500]["level"] == -1
    assert df.schema["region"].dataType.simpleString() == "bigint"


def test_rechunk_preserves_volume(spark):
    # T6 — chunk geometry change is content-preserving
    from atlas_upscaling_dask_spark.volume import rechunk

    vox = synthetic_voxels(spark)
    chunks = voxels_to_chunks(vox, FIXTURE_META, chunk=(8, 8, 8))
    re = rechunk(chunks, FIXTURE_META, new_chunk=(4, 16, 16))
    geoms = {(r["dz"], r["dy"], r["dx"]) for r in re.select("dz", "dy", "dx").collect()}
    assert geoms == {(4, 16, 16)}
    back = chunks_to_voxels(re)
    assert back.exceptAll(vox).isEmpty() and vox.exceptAll(back).isEmpty()


def test_compact_table_preserves_content_and_layout(spark, tmp_path):
    # streaming ingest leaves one file per trigger; compaction must cut
    # the file count, keep partition dirs, carry sidecars, and change
    # NOTHING about the rows
    from atlas_upscaling_dask_spark.sinks.writer import compact_table, write_volume
    from atlas_upscaling_dask_spark.volume import FIXTURE_META, synthetic_chunks

    path = str(tmp_path / "vol")
    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(2, 8, 8))
    # fragment: 64 tiny files across the cz partition dirs
    write_volume(chunks.repartition(64), path, FIXTURE_META)
    before = spark.read.parquet(path).orderBy("cz", "cy", "cx").collect()

    stats = compact_table(spark, path, target_mb=128)
    assert stats["files_after"] < stats["files_before"]
    after_df = spark.read.parquet(path)
    after = after_df.orderBy("cz", "cy", "cx").collect()
    assert after == before
    # partition layout survived (directory-style cz=N) and sidecar too
    assert any(d.startswith("cz=") for d in os.listdir(path))
    assert os.path.exists(os.path.join(path, "_volume_meta.json"))


def test_tiff_roundtrip_dtypes_and_byteorders(tmp_path):
    # S7 — pure-numpy baseline-TIFF parser: shape/dtype recovery across
    # sample widths, signedness, and both byte orders
    import numpy as np

    from atlas_upscaling_dask_spark.sources import tiff

    rng = np.random.default_rng(7)
    for dt in ("u1", "u2", "u4", "i2"):
        for bo in ("<", ">"):
            vol = rng.integers(0, 100, size=(3, 10, 7)).astype(dt)
            p = str(tmp_path / f"v_{dt}_{'le' if bo == '<' else 'be'}.tif")
            tiff.write_tiff(p, vol, rows_per_strip=4, byteorder=bo)
            info = tiff.parse_tiff(p)
            assert info.shape == (3, 10, 7)
            assert info.dtype.kind == np.dtype(dt).kind
            assert info.dtype.itemsize == np.dtype(dt).itemsize
            assert tiff.read_tiff_shape(p) == (3, 10, 7)
    # single-page file reports a 2-D shape (reference memmap parity)
    one = rng.integers(0, 9, size=(1, 5, 6)).astype("u2")
    p1 = str(tmp_path / "single.tif")
    tiff.write_tiff(p1, one)
    assert tiff.read_tiff_shape(p1) == (5, 6)
    # BigTIFF (magic 43, 8-byte offsets — the >4 GB export format the
    # reference writer uses) round-trips through the same parser
    vol = rng.integers(0, 100, size=(4, 9, 8)).astype("u4")
    pb = str(tmp_path / "big.tif")
    tiff.write_tiff(pb, vol, rows_per_strip=3, bigtiff=True)
    import struct as _struct

    with open(pb, "rb") as fh:
        assert _struct.unpack("<H", fh.read(4)[2:])[0] == 43
    info = tiff.parse_tiff(pb)
    assert info.shape == (4, 9, 8) and info.dtype.itemsize == 4


def test_tiff_distributed_scan_strips_and_tiles(spark, tmp_path):
    # S7 — distributed range-read scan lands the exact volume in the
    # chunk-packed representation, for strip AND tile layouts (with
    # edge tiles spec-padded) and chunk grids misaligned to both
    import numpy as np

    from atlas_upscaling_dask_spark.sources import tiff

    rng = np.random.default_rng(11)
    vol = rng.integers(0, 70000, size=(5, 13, 11)).astype("u4")
    for name, kwargs in (
        ("strips.tif", {"rows_per_strip": 4}),
        ("tiles.tif", {"tile": (8, 8)}),
        ("tiles_odd.tif", {"tile": (5, 3)}),
    ):
        p = str(tmp_path / name)
        tiff.write_tiff(p, vol, **kwargs)
        chunks, info = tiff.read_tiff_chunks(spark, p, chunk=(2, 6, 5))
        assert info.shape == vol.shape
        got = np.zeros(vol.shape, dtype="u4")
        for r in chunks_to_voxels(chunks).collect():
            got[r["z"], r["y"], r["x"]] = r["label"]
        assert np.array_equal(got, vol), name


def test_tiff_streaming_export_roundtrip(spark, tmp_path):
    # K6 — slice-streamed TIFF export of the fixture cube reads back
    # identical through the distributed scan (writer<->parser closure)
    import numpy as np

    from atlas_upscaling_dask_spark.sinks.writer import export_tiff
    from atlas_upscaling_dask_spark.sources import tiff
    from atlas_upscaling_dask_spark.volume import FIXTURE_META, synthetic_voxels

    vox = synthetic_voxels(spark)
    p = str(tmp_path / "export.tif")
    export_tiff(vox, p, FIXTURE_META, dtype="uint32", rows_per_strip=5)
    info = tiff.parse_tiff(p)
    assert info.shape == FIXTURE_META.shape
    chunks, _ = tiff.read_tiff_chunks(spark, p, chunk=(8, 8, 8))
    back = chunks_to_voxels(chunks).select("z", "y", "x", "label")
    want = vox.select("z", "y", "x", "label")
    assert back.exceptAll(want).isEmpty() and want.exceptAll(back).isEmpty()


def test_tiff_unsupported_shapes_raise(tmp_path):
    # loud subset contract: compression and multi-sample files must
    # fail with the reason, not decode garbage
    import struct

    import pytest as _pytest

    from atlas_upscaling_dask_spark.sources import tiff

    p = str(tmp_path / "lzw.tif")
    import numpy as np

    tiff.write_tiff(p, np.zeros((2, 4, 4), dtype="u1"))
    # flip the compression tag of IFD0 to LZW (5) in place
    raw = bytearray(open(p, "rb").read())
    (ifd0,) = struct.unpack("<I", raw[4:8])
    (n,) = struct.unpack("<H", raw[ifd0 : ifd0 + 2])
    for i in range(n):
        e = ifd0 + 2 + i * 12
        (tag,) = struct.unpack("<H", raw[e : e + 2])
        if tag == 259:
            raw[e + 8 : e + 12] = struct.pack("<I", 5)
    open(p, "wb").write(bytes(raw))
    with _pytest.raises(ValueError, match="compression"):
        tiff.parse_tiff(p)
    with _pytest.raises(ValueError, match="byte-order"):
        tiff.parse_tiff(__file__)


def test_bucketed_colocated_join(spark, tmp_path):
    # Two tables bucketed on the same key/count: the sort-merge join
    # must read co-located buckets with NO shuffle exchange on either
    # side — the scale path for repeated fact-fact joins.
    from atlas_upscaling_dask_spark.sinks.bucketed import (
        is_shuffle_free,
        read_bucketed,
        write_bucketed,
    )

    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_key"), (F.col("id") % 7).alias("o_val")
    )
    items = spark.range(0, 5000).select(
        (F.col("id") % 1000).alias("l_key"), (F.col("id") % 13).alias("l_val")
    )
    bo = write_bucketed(orders, "t_orders_b", str(tmp_path / "ob"), "o_key", 8,
                        sort_cols="o_key")
    bi = write_bucketed(items, "t_items_b", str(tmp_path / "ib"), "l_key", 8,
                        sort_cols="l_key")
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bo.join(bi, bo.o_key == bi.l_key)
            assert is_shuffle_free(j), "bucketed join must not shuffle"
            assert j.count() == 5000
            # sanity: the same join on the un-bucketed frames DOES shuffle
            assert not is_shuffle_free(orders.join(items, orders.o_key == items.l_key))
            # and a groupBy on the bucket key is shuffle-free too
            assert is_shuffle_free(bo.groupBy("o_key").count())
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_items_b")


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    from atlas_upscaling_dask_spark.sources.jsonl import (
        export_jsonl,
        read_jsonl,
        split_corrupt,
    )

    docs = spark.createDataFrame(
        [(i, f"doc number {i}", "en", "unit", 12) for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "corpus")
    shards = export_jsonl(docs, out, target_shard_mb=1)
    assert shards >= 1
    back, bad = split_corrupt(read_jsonl(spark, out))
    assert bad.count() == 0
    assert back.count() == 50
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == set(range(50))

    # corrupt line lands in quarantine, clean rows survive
    raw = tmp_path / "mixed.jsonl"
    raw.write_text('{"doc_id": 1, "text": "ok"}\n{not json at all\n')
    clean, bad = split_corrupt(read_jsonl(spark, str(raw)))
    assert clean.count() == 1 and bad.count() == 1


def test_write_volume_bloom_filters(spark, tmp_path):
    # bloom option must actually materialize filters: same data written
    # with blooms is strictly larger on disk, and roundtrips identically
    import glob

    from atlas_upscaling_dask_spark.sinks.writer import write_volume
    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    meta = VolumeMeta(16, 16, 16)
    chunks = synthetic_chunks(spark, meta, chunk=(4, 16, 16))
    p_plain = str(tmp_path / "plain")
    p_bloom = str(tmp_path / "bloom")
    write_volume(chunks, p_plain, meta)
    write_volume(chunks, p_bloom, meta, bloom_filter_cols=("cy", "cx"))

    size = lambda p: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(p + "/**/*.parquet", recursive=True)
    )
    assert size(p_bloom) > size(p_plain)
    a = spark.read.parquet(p_plain).orderBy("cz", "cy", "cx").collect()
    b = spark.read.parquet(p_bloom).orderBy("cz", "cy", "cx").collect()
    assert a == b


# ------------------------------------------------------------------ PNG


class TestPngCodec:
    def test_roundtrip_channels(self):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.png import decode_png, encode_png

        rng = np.random.default_rng(3)
        for c in (1, 2, 3, 4):
            src = rng.integers(0, 256, size=(7, 11, c), dtype=np.uint8)
            got = decode_png(encode_png(src))
            assert got.shape == (7, 11, c)
            assert np.array_equal(got, src)

    def test_roundtrip_gray_2d(self):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.png import decode_png, encode_png

        src = np.arange(64, dtype=np.uint8).reshape(8, 8)
        got = decode_png(encode_png(src))
        assert np.array_equal(got[:, :, 0], src)

    def test_all_filter_types_decode(self):
        # Hand-filter each scanline with a different filter type (the
        # encoder only emits None/Up) and check reconstruction.
        import struct
        import zlib

        import numpy as np

        from atlas_upscaling_dask_spark.sources.png import (
            PNG_SIGNATURE,
            _paeth,
            decode_png,
        )

        rng = np.random.default_rng(5)
        h, w, bpp = 5, 6, 3
        src = rng.integers(0, 256, size=(h, w * bpp), dtype=np.uint8).astype(int)
        lines = bytearray()
        for y, ftype in enumerate([0, 1, 2, 3, 4]):
            prior = src[y - 1] if y else np.zeros(w * bpp, dtype=int)
            row = src[y]
            filt = np.zeros(w * bpp, dtype=int)
            for x in range(w * bpp):
                left = row[x - bpp] if x >= bpp else 0
                ul = prior[x - bpp] if x >= bpp else 0
                if ftype == 0:
                    filt[x] = row[x]
                elif ftype == 1:
                    filt[x] = row[x] - left
                elif ftype == 2:
                    filt[x] = row[x] - prior[x]
                elif ftype == 3:
                    filt[x] = row[x] - (left + prior[x]) // 2
                else:
                    filt[x] = row[x] - _paeth(int(left), int(prior[x]), int(ul))
            lines += bytes([ftype]) + (filt % 256).astype(np.uint8).tobytes()

        def chunk(ctype, payload):
            return (
                struct.pack(">I", len(payload))
                + ctype
                + payload
                + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        data = (
            PNG_SIGNATURE
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(lines)))
            + chunk(b"IEND", b"")
        )
        got = decode_png(data)
        assert np.array_equal(got.reshape(h, w * bpp), src.astype(np.uint8))

    def test_palette_expansion(self):
        import struct
        import zlib

        import numpy as np

        from atlas_upscaling_dask_spark.sources.png import PNG_SIGNATURE, decode_png

        def chunk(ctype, payload):
            return (
                struct.pack(">I", len(payload))
                + ctype
                + payload
                + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
            )

        # 2x2 palette image: indices [[0,1],[1,0]]
        plte = bytes([255, 0, 0, 0, 0, 255])  # red, blue
        raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([1, 0])
        data = (
            PNG_SIGNATURE
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", plte)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        got = decode_png(data)
        assert np.array_equal(got[0, 0], [255, 0, 0])
        assert np.array_equal(got[0, 1], [0, 0, 255])
        assert np.array_equal(got[1, 0], [0, 0, 255])

    def test_rejections(self):
        import struct
        import zlib

        import numpy as np
        import pytest

        from atlas_upscaling_dask_spark.sources.png import (
            PNG_SIGNATURE,
            decode_png,
            encode_png,
        )

        with pytest.raises(ValueError, match="bad signature"):
            decode_png(b"JFIF....")

        def chunk(ctype, payload):
            return (
                struct.pack(">I", len(payload))
                + ctype
                + payload
                + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
            )

        # sub-byte depths and illegal 16-bit palette: explicit rejection
        for depth, ctype_val, msg in (
            (4, 0, "8/16-bit"),
            (1, 0, "8/16-bit"),
            (16, 3, "16-bit palette"),
        ):
            data = (
                PNG_SIGNATURE
                + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, depth, ctype_val, 0, 0, 0))
                + chunk(b"IEND", b"")
            )
            with pytest.raises(ValueError, match=msg):
                decode_png(data)

        # corrupted CRC
        good = encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
        bad = bytearray(good)
        bad[-5] ^= 0xFF  # inside IEND CRC
        with pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(bad))

    def test_16bit_and_adam7_roundtrip(self):
        # round 4: 16-bit depth and Adam7 interlace are decoded for
        # real — every (depth, interlace) combination round-trips
        # bit-exactly, including ragged pass geometries (odd dims,
        # single-row/column images where several Adam7 passes are empty)
        import numpy as np

        from atlas_upscaling_dask_spark.sources.png import (
            _ADAM7,
            decode_png,
            encode_png,
            to_rgb,
        )

        # the pass grid must tile the plane exactly once
        mask = np.zeros((16, 16), dtype=int)
        for x0, y0, dx, dy in _ADAM7:
            mask[y0::dy, x0::dx] += 1
        assert mask.min() == 1 and mask.max() == 1

        rng = np.random.default_rng(5)
        for shape in [(13, 11, 3), (7, 9, 1), (16, 16, 4), (1, 1, 3), (8, 1, 1)]:
            img8 = rng.integers(0, 256, size=shape, dtype=np.uint8)
            assert np.array_equal(decode_png(encode_png(img8)), img8)
            assert np.array_equal(
                decode_png(encode_png(img8, interlace=True)), img8
            )
        for shape in [(13, 11, 3), (5, 6, 1), (9, 8, 4)]:
            img16 = rng.integers(0, 65536, size=shape, dtype=np.uint16)
            got = decode_png(encode_png(img16))
            assert got.dtype == np.uint16 and np.array_equal(got, img16)
            assert np.array_equal(
                decode_png(encode_png(img16, interlace=True)), img16
            )
        hi = np.full((2, 2, 1), 0xABCD, dtype=np.uint16)
        assert to_rgb(hi).dtype == np.uint8 and int(to_rgb(hi)[0, 0, 0]) == 0xAB

    def test_to_rgb_normalization(self):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.png import to_rgb

        g = np.full((2, 2, 1), 7, dtype=np.uint8)
        assert to_rgb(g).shape == (2, 2, 3)
        ga = np.dstack([g[:, :, 0], np.full((2, 2), 255, np.uint8)])
        assert to_rgb(ga).shape == (2, 2, 3)
        rgba = np.zeros((2, 2, 4), dtype=np.uint8)
        assert to_rgb(rgba).shape == (2, 2, 3)


class TestWavCodec:
    def test_roundtrip_dtypes(self):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.wav import decode_wav, encode_wav

        rng = np.random.default_rng(2)
        for dtype, hi in ((np.uint8, 256), (np.int16, 32768), (np.int32, 2**31)):
            s = rng.integers(0, hi, size=(100, 2)).astype(dtype)
            arr, info = decode_wav(encode_wav(s, 16000))
            assert np.array_equal(arr, s)
            assert (info.sample_rate, info.n_channels, info.n_frames) == (16000, 2, 100)
        f32 = rng.normal(size=50).astype(np.float32)
        arr, info = decode_wav(encode_wav(f32, 8000))
        assert np.array_equal(arr[:, 0], f32) and info.format_tag == 3
        # odd-length mono u8 data chunk exercises RIFF word alignment
        odd = rng.integers(0, 256, size=7).astype(np.uint8)
        arr, _ = decode_wav(encode_wav(odd, 44100))
        assert np.array_equal(arr[:, 0], odd)

    def test_24bit_sign_extension(self):
        import struct

        import numpy as np

        from atlas_upscaling_dask_spark.sources.wav import decode_wav

        frames = np.array([1, -1, 8388607, -8388608, 1234567], dtype=np.int32)
        raw = b"".join(int(x & 0xFFFFFF).to_bytes(3, "little") for x in frames)
        fmt = struct.pack("<HHIIHH", 1, 1, 48000, 48000 * 3, 3, 24)

        def chunk(cid, p):
            return cid + struct.pack("<I", len(p)) + p + (b"\x00" if len(p) & 1 else b"")

        body = chunk(b"fmt ", fmt) + chunk(b"data", raw)
        wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
        arr, info = decode_wav(wav)
        assert np.array_equal(arr[:, 0], frames) and info.bits == 24

    def test_rejections(self):
        import struct

        import pytest

        from atlas_upscaling_dask_spark.sources.wav import decode_wav

        with pytest.raises(ValueError, match="RIFF/WAVE"):
            decode_wav(b"ID3\x04notawav....")
        # ADPCM (tag 2): compressed formats need a media library
        fmt = struct.pack("<HHIIHH", 2, 1, 8000, 8000, 1, 4)

        def chunk(cid, p):
            return cid + struct.pack("<I", len(p)) + p + (b"\x00" if len(p) & 1 else b"")

        body = chunk(b"fmt ", fmt) + chunk(b"data", b"\x00\x00")
        wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
        with pytest.raises(ValueError, match="media library"):
            decode_wav(wav)
        with pytest.raises(ValueError, match="missing fmt"):
            decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")


def test_orc_roundtrip_matches_parquet(spark, tmp_path):
    # format breadth: the same frame written as ORC and parquet must
    # read back identically (ORC is Spark-native — no extra packages)
    from atlas_upscaling_dask_spark.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").limit(500)
    orc, pq = str(tmp_path / "t_orc"), str(tmp_path / "t_pq")
    li.write.mode("overwrite").orc(orc)
    li.write.mode("overwrite").parquet(pq)
    a = sorted(map(tuple, spark.read.orc(orc).collect()))
    b = sorted(map(tuple, spark.read.parquet(pq).collect()))
    assert a == b and len(a) == 500


def test_parquet_schema_evolution_merge(spark, tmp_path):
    # lakehouse schema evolution: files written before a column existed
    # must surface NULLs for it under mergeSchema, and new files keep it
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k long, v string, score double"
    ).write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"k", "v", "score"}
    rows = {r["k"]: r["score"] for r in df.collect()}
    assert rows == {1: None, 2: 9.5}


def test_csv_malformed_row_handling(spark, tmp_path):
    # ingest robustness: PERMISSIVE captures bad rows in _corrupt_record,
    # DROPMALFORMED silently skips them — both must keep the good rows
    p = str(tmp_path / "dirty.csv")
    with open(p, "w") as fh:
        fh.write("k,v\n1,10\nnot_an_int,20\n3,thirty\n4,40\n")
    schema = "k long, v long, _corrupt_record string"
    perm = spark.read.csv(
        p, header=True, schema=schema, mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()
    good = perm.filter(F.col("_corrupt_record").isNull())
    bad = perm.filter(F.col("_corrupt_record").isNotNull())
    assert {r["k"] for r in good.collect()} == {1, 4}
    assert bad.count() == 2  # both malformed lines preserved for triage
    perm.unpersist()

    dropped = spark.read.csv(
        p, header=True, schema="k long, v long", mode="DROPMALFORMED"
    )
    assert {r["k"] for r in dropped.collect()} == {1, 4}
