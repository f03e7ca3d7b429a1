"""Structured Streaming tests: stream result ≡ batch result on same rows."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from atlas_upscaling_dask_spark.tables import load_table


@pytest.fixture()
def stream_dir(tmp_path):
    return str(tmp_path / "stream_in")


def test_windowed_counts_stream_equals_batch(spark, sf_dir, stream_dir, tmp_path):
    from atlas_upscaling_dask_spark.streaming.ingest import (
        start_windowed_counts_memory,
        windowed_counts,
    )

    events = load_table(spark, sf_dir, "events")
    # drop the events as several parquet files into the watched dir
    events.repartition(4).write.mode("overwrite").parquet(stream_dir)

    q = start_windowed_counts_memory(spark, stream_dir, query_name="wc_test")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM wc_test")
        expect = windowed_counts(events.withWatermark("ts", "2 hours"))
        # complete-mode aggregation over a drained finite source must equal
        # the batch aggregation over the same rows
        batch = (
            events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            )
            .select(
                F.unix_micros(F.col("w.start")).alias("bucket_us"),
                "event_type",
                "n",
                "sum_value",
            )
        )
        assert got.exceptAll(batch).isEmpty() and batch.exceptAll(got).isEmpty()
    finally:
        q.stop()


def test_slice_ingestion_builds_volume(spark, tmp_path):
    from atlas_upscaling_dask_spark.streaming.ingest import start_slice_ingestion
    from atlas_upscaling_dask_spark.volume import (
        FIXTURE_META,
        chunks_to_voxels,
        synthetic_voxels,
    )

    slices = str(tmp_path / "slices")
    vol_out = str(tmp_path / "volume_table")
    vox = synthetic_voxels(spark).cache()

    # drop the cube as 4 z-slab files, as the reference streams slabs
    # (upscale_streaming.py:94-127)
    os.makedirs(slices, exist_ok=True)
    for i in range(4):
        vox.filter((F.col("z") >= i * 4) & (F.col("z") < (i + 1) * 4)).coalesce(
            1
        ).write.mode("append").parquet(slices)

    q = start_slice_ingestion(
        spark, slices, vol_out, meta_shape=(16, 16, 16), chunk=(4, 16, 16)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rebuilt = chunks_to_voxels(spark.read.parquet(vol_out))
    assert rebuilt.count() == 4096
    assert rebuilt.exceptAll(vox).isEmpty() and vox.exceptAll(rebuilt).isEmpty()


def test_stateful_first_seen(spark, sf_dir, tmp_path):
    # custom stateful operator: exactly one emission per user, carrying
    # that user's first event_id
    from atlas_upscaling_dask_spark.streaming.ingest import (
        start_stateful_first_seen_memory,
    )

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "stateful_in")
    events.repartition(4).write.mode("overwrite").parquet(src)

    q = start_stateful_first_seen_memory(spark, src, query_name="fs_test")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM fs_test").toPandas()
    finally:
        q.stop()

    expect = (
        events.groupBy("user_id")
        .agg(F.min("event_id").alias("first_event_id"))
        .toPandas()
    )
    assert len(got) == len(expect)
    g = dict(zip(got["user_id"], got["first_event_id"]))
    e = dict(zip(expect["user_id"], expect["first_event_id"]))
    assert g == e


def test_attribution_join_stream_equals_batch(spark, sf_dir, stream_dir):
    # watermarked stream-stream interval join over a drained finite
    # source must equal the same interval join run as a batch
    from atlas_upscaling_dask_spark.streaming.ingest import (
        attribution_join,
        start_attribution_join_memory,
    )

    events = load_table(spark, sf_dir, "events")
    events.repartition(4).write.mode("overwrite").parquet(stream_dir)

    q = start_attribution_join_memory(spark, stream_dir, query_name="attr_test")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM attr_test")
        batch = attribution_join(
            events.filter(F.col("event_type") == "purchase"),
            events.filter(F.col("event_type") == "view"),
        )
        assert got.count() > 0
        assert got.exceptAll(batch).isEmpty() and batch.exceptAll(got).isEmpty()
    finally:
        q.stop()


def test_dedup_stream_drops_duplicates(spark, sf_dir, stream_dir):
    from atlas_upscaling_dask_spark.streaming.ingest import start_dedup_stream_memory

    events = load_table(spark, sf_dir, "events").limit(200)
    # write each event TWICE (two files) - the stream must emit each once
    events.write.mode("overwrite").parquet(stream_dir)
    events.write.mode("append").parquet(stream_dir)

    q = start_dedup_stream_memory(spark, stream_dir, query_name="dd_test")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT event_id FROM dd_test")
        assert got.count() == events.count()
        assert got.distinct().count() == events.count()
    finally:
        q.stop()


def test_slice_ingestion_checkpoint_restart(spark, tmp_path):
    # stop the query mid-stream, restart with the same checkpoint: the
    # second run must NOT re-append slices the first run committed
    import numpy as np
    import pandas as pd

    from atlas_upscaling_dask_spark.streaming.ingest import start_slice_ingestion

    src = str(tmp_path / "slices")
    vol = str(tmp_path / "vol")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def drop_slice(z):
        zz, yy, xx = np.meshgrid([z], range(4), range(4), indexing="ij")
        pdf = pd.DataFrame({
            "z": zz.ravel(), "y": yy.ravel(), "x": xx.ravel(),
            "label": (zz * 16 + yy * 4 + xx).ravel(),
        })
        spark.createDataFrame(pdf, "z long, y long, x long, label long") \
            .coalesce(1).write.mode("append").parquet(src)

    drop_slice(0)
    drop_slice(1)
    q = start_slice_ingestion(spark, src, vol, (4, 4, 4), (1, 4, 4), checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_first = spark.read.parquet(vol).count()
    assert n_first == 2  # two 1x4x4 chunk rows

    drop_slice(2)
    q = start_slice_ingestion(spark, src, vol, (4, 4, 4), (1, 4, 4), checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # only slice 2 appended on restart - no duplicates of 0/1
    from atlas_upscaling_dask_spark.volume import chunks_to_voxels

    vox = chunks_to_voxels(spark.read.parquet(vol))
    assert vox.count() == 48
    assert vox.select("z", "y", "x").distinct().count() == 48


def test_doc_enrichment_stream_equals_batch(spark, sf_dir, stream_dir):
    # the enrichment projection is stateless, so draining the stream
    # must yield exactly the batch projection over the same documents
    from atlas_upscaling_dask_spark.streaming.ingest import (
        doc_enrichment_stream,
        start_doc_enrichment_memory,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.mode("overwrite").parquet(stream_dir)

    q = start_doc_enrichment_memory(spark, stream_dir, query_name="de_test")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM de_test")
        batch = doc_enrichment_stream(docs)  # same builder, batch frame
        assert got.count() == docs.count()
        assert got.exceptAll(batch).isEmpty() and batch.exceptAll(got).isEmpty()
    finally:
        q.stop()


def test_session_windows_stream_equals_batch(spark, sf_dir, stream_dir):
    # VERDICT r2 "Next round #5": the Structured Streaming twin of the
    # batch lag-gap sessionize.  session_window merges events whose gap
    # is <= 30 min (probe-verified: split only on gap > 30 min — the
    # exact boundary rule of the batch lag-gap variant in suite.py).
    import datetime

    from atlas_upscaling_dask_spark.streaming.ingest import (
        read_event_stream,
        sessionized_counts,
    )

    events = load_table(spark, sf_dir, "events")
    events.repartition(4).write.mode("overwrite").parquet(stream_dir)

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=8)
    q = (
        sessionized_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sw_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # Append-mode session windows only finalize once the watermark
        # passes them: drop one far-future flush event to advance it,
        # then exclude that sentinel user from the comparison.
        mx = events.agg(F.max("ts")).first()[0]
        flush = spark.createDataFrame(
            [(10**9, mx + datetime.timedelta(days=30), -1, "flush", 0.0, "{}")],
            schema=events.schema,
        )
        flush.write.mode("append").parquet(stream_dir)
        q.processAllAvailable()

        got = spark.sql("SELECT * FROM sw_test").filter(F.col("user_id") != -1)
        batch = (
            events.groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.unix_micros(F.col("w.start")).alias("session_start_us"),
                "n_events",
            )
        )
        assert got.count() > 0
        assert got.exceptAll(batch).isEmpty() and batch.exceptAll(got).isEmpty()

        # and the session COUNT agrees with the batch lag-gap sessionize
        from atlas_upscaling_dask_spark import suite

        lag = suite.QUERIES["sessionize"](spark, sf_dir)
        n_lag_sessions = (
            lag.groupBy("user_id")
            .agg(F.max("session_idx").alias("m"))
            .agg(F.sum("m"))
            .first()[0]
        )
        assert batch.count() == n_lag_sessions
    finally:
        q.stop()


def test_upscale_ingestion_stream_equals_batch(spark, tmp_path):
    # upscale_streaming.py's namesake: slabs upscaled AS THEY ARRIVE
    # must rebuild exactly the batch x2 upscale of the same cube.
    from atlas_upscaling_dask_spark.operators.upscale import upscale_coo
    from atlas_upscaling_dask_spark.streaming.ingest import start_upscale_ingestion
    from atlas_upscaling_dask_spark.volume import chunks_to_voxels, synthetic_voxels

    slices = str(tmp_path / "up_slices")
    vol_out = str(tmp_path / "up_volume")
    vox = synthetic_voxels(spark).cache()

    os.makedirs(slices, exist_ok=True)
    for i in range(4):
        vox.filter((F.col("z") >= i * 4) & (F.col("z") < (i + 1) * 4)).coalesce(
            1
        ).write.mode("append").parquet(slices)

    q = start_upscale_ingestion(
        spark, slices, vol_out,
        meta_shape=(16, 16, 16), chunk=(4, 16, 16), scale=2, codec="zstd",
        checkpoint_dir=str(tmp_path / "up_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rebuilt = chunks_to_voxels(
        spark.read.parquet(vol_out).select(
            "volume_id", "cz", "cy", "cx", "z0", "y0", "x0",
            "dz", "dy", "dx", "codec", "payload")
    )
    batch = upscale_coo(vox, 2)
    assert rebuilt.count() == 8 * 4096
    assert rebuilt.exceptAll(batch).isEmpty() and batch.exceptAll(rebuilt).isEmpty()


def test_streaming_incremental_agg_equals_batch(spark, tmp_path):
    # The streaming driver for materialized-view maintenance: fold
    # arriving event files into a versioned state table, one delta-only
    # fold per micro-batch; the final state must equal a batch
    # recompute over everything BIT-IDENTICALLY.
    from atlas_upscaling_dask_spark.operators.incremental import (
        aggregate_state,
        finalize,
    )
    from atlas_upscaling_dask_spark.streaming.ingest import (
        read_agg_state,
        start_incremental_agg,
    )

    events_dir = str(tmp_path / "events_in")
    state_dir = str(tmp_path / "agg_state")
    os.makedirs(events_dir, exist_ok=True)

    all_rows = spark.range(900).select(
        (F.col("id") % 6).alias("g"),
        (F.col("id") % 41).cast("double").alias("v"),
        F.col("id").alias("id"),
    ).cache()
    for i in range(3):
        all_rows.filter(F.col("id") % 3 == i).drop("id").coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)

    q = start_incremental_agg(
        spark,
        events_dir,
        state_dir,
        keys=["g"],
        sum_cols=["v"],
        schema="g bigint, v double",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = finalize(read_agg_state(spark, state_dir), ["g"], ["v"])
    batch = finalize(aggregate_state(all_rows.drop("id"), ["g"], ["v"]), ["g"], ["v"])
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_anomaly_stream_prefix_equals_batch(spark, tmp_path):
    # Streaming z-score with incrementally-maintained moments: batch 0
    # rows are judged against batch-0 stats (== the batch operator on
    # drop 1 alone); batch 1 rows against the folded drop1+drop2 stats
    # (== the batch operator on the full history, restricted to the new
    # rows).  Exactness carries through the DECIMAL moment state, so
    # comparisons are exceptAll-empty, not approximate.
    from atlas_upscaling_dask_spark.operators.resample import zscore_outliers
    from atlas_upscaling_dask_spark.streaming.ingest import start_anomaly_stream

    schema = "event_id long, event_type string, value double"
    drop1 = [(i, "click", 10.0 + (i % 3)) for i in range(60)] + [(99, "click", 500.0)]
    drop2 = [(100 + i, "click", 11.0 + (i % 3)) for i in range(40)] + [
        (199, "click", -400.0)
    ]
    d1 = spark.createDataFrame(drop1, schema)
    d2 = spark.createDataFrame(drop2, schema)
    full = spark.createDataFrame(drop1 + drop2, schema)

    src = str(tmp_path / "anomaly_src")
    state = str(tmp_path / "anomaly_state")
    out = str(tmp_path / "anomaly_out")
    ckpt = str(tmp_path / "anomaly_ckpt")
    d1.write.mode("append").parquet(src)

    # Stage each drop while NO query is watching, and restart from the
    # checkpoint between drops: appending parquet into a watched source
    # commits part-files non-atomically, so a running stream can
    # self-trigger mid-append and split a drop across two micro-batches
    # (prefix semantics still hold, but the per-epoch assertions below
    # would flake).  The stop/restart protocol pins drop N <-> epoch N-1.
    q = start_anomaly_stream(
        spark, src, state, out, d1.schema, threshold=3.0, checkpoint_dir=ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    d2.write.mode("append").parquet(src)
    q = start_anomaly_stream(
        spark, src, state, out, d1.schema, threshold=3.0, checkpoint_dir=ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got1 = spark.read.parquet(f"{out}/epoch=0")
    want1 = zscore_outliers(d1, threshold=3.0)
    assert got1.count() == 1 and got1.first()["event_id"] == 99
    assert got1.exceptAll(want1).isEmpty() and want1.exceptAll(got1).isEmpty()

    got2 = spark.read.parquet(f"{out}/epoch=1")
    want2 = zscore_outliers(full, threshold=3.0).filter(F.col("event_id") >= 100)
    assert got2.count() == 1 and got2.first()["event_id"] == 199
    assert got2.exceptAll(want2).isEmpty() and want2.exceptAll(got2).isEmpty()


def test_crawl_dedup_stream_incremental_index(spark, tmp_path):
    # Continuous crawl dedup against the persisted LSH index: drop 1
    # seeds the corpus; drop 2 contains a near-dup of a drop-1 doc, an
    # in-batch dup pair, and a fresh doc.  Epoch outputs carry exactly
    # the survivors, and the final index equals a from-scratch build
    # over all survivors (the append path is corpus-equivalent).
    # Stop/restart between drops (the anomaly-test staging protocol).
    from atlas_upscaling_dask_spark.extensions.dedup import (
        build_lsh_index,
        lsh_index_pairs,
    )
    from atlas_upscaling_dask_spark.streaming.ingest import (
        start_crawl_dedup_stream,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    drop1 = [
        (1, base),
        (2, "completely different text about spark and large scale data systems"),
    ]
    drop2 = [
        (10, base + " today"),  # near-dup of doc 1 -> dropped vs corpus
        (11, "brand new survey of streaming joins and watermark semantics"),
        (12, "brand new survey of streaming joins and watermark semantics ok"),
        # 11/12 are in-batch near-dups -> 12 drops (lowest id wins)
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path / "crawl_src")
    idx = str(tmp_path / "crawl_idx")
    out = str(tmp_path / "crawl_out")
    ckpt = str(tmp_path / "crawl_ckpt")

    d1 = spark.createDataFrame(drop1, schema)
    d2 = spark.createDataFrame(drop2, schema)
    # seed an EMPTY index with pinned params (build on a 0-row frame)
    build_lsh_index(d1.limit(0), idx, num_hashes=16, bands=8, shingle_n=3)

    tidx = str(tmp_path / "crawl_text_idx")
    from atlas_upscaling_dask_spark.extensions.retrieval import (
        bm25_index_topk,
        build_text_index,
    )

    build_text_index(d1.limit(0), tidx)  # empty bootstrap

    def run_drop(df):
        df.write.mode("append").parquet(src)
        q = start_crawl_dedup_stream(
            spark, src, idx, out, d1.schema, min_est_sim=0.5,
            checkpoint_dir=ckpt, text_index_path=tidx,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_drop(d1)
    run_drop(d2)

    e0 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    e1 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert e0 == {1, 2}
    assert e1 == {11}

    # incremental index == rebuild over the survivors
    survivors = spark.createDataFrame(
        [r for r in drop1 + drop2 if r[0] in e0 | e1], schema
    )
    rebuilt = str(tmp_path / "crawl_idx_rebuilt")
    build_lsh_index(survivors, rebuilt, num_hashes=16, bands=8, shingle_n=3)
    a = sorted(map(tuple, lsh_index_pairs(spark, idx, 0.0).collect()))
    b = sorted(map(tuple, lsh_index_pairs(spark, rebuilt, 0.0).collect()))
    assert a == b

    # the stream also maintained the BM25 index: incremental == rebuild
    tfull = str(tmp_path / "crawl_text_full")
    build_text_index(survivors, tfull)
    terms = ["the", "streaming", "data"]
    ti = sorted(map(tuple, bm25_index_topk(spark, tidx, terms, k=10).collect()))
    tf = sorted(map(tuple, bm25_index_topk(spark, tfull, terms, k=10).collect()))
    assert ti == tf and ti


def test_crawl_dedup_stream_replay_is_lossless(spark, tmp_path):
    # CODE-REVIEW r4 finding #1: a replayed epoch runs AFTER its first
    # attempt already appended survivors to the LSH index.  Without the
    # self-match filter every survivor matched its own signature and
    # the epoch output was overwritten EMPTY (data loss); the per-epoch
    # append markers additionally keep the BM25 stats advance
    # exactly-once.  Replay simulated deterministically by invoking the
    # extracted per-batch unit twice with the same epoch id.
    from atlas_upscaling_dask_spark.extensions.dedup import build_lsh_index
    from atlas_upscaling_dask_spark.extensions.retrieval import (
        bm25_index_topk,
        build_text_index,
    )
    from atlas_upscaling_dask_spark.streaming.ingest import crawl_dedup_batch

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "totally different words about spark streaming state stores"),
    ]
    schema = "doc_id long, text string"
    idx = str(tmp_path / "rp_idx")
    tidx = str(tmp_path / "rp_tidx")
    out = str(tmp_path / "rp_out")
    marks = str(tmp_path / "rp_marks")
    d = spark.createDataFrame(docs, schema)
    build_lsh_index(d.limit(0), idx, num_hashes=16, bands=8, shingle_n=3)
    build_text_index(d.limit(0), tidx)

    crawl_dedup_batch(
        spark, d, 0, idx, out, min_est_sim=0.5,
        text_index_path=tidx, marker_dir=marks,
    )
    first = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()
    )
    assert first == [1, 2]
    terms = ["alpha", "different"]
    scores_before = sorted(
        map(tuple, bm25_index_topk(spark, tidx, terms, k=10).collect())
    )

    # the replay: same batch, same epoch, index already appended
    crawl_dedup_batch(
        spark, d, 0, idx, out, min_est_sim=0.5,
        text_index_path=tidx, marker_dir=marks,
    )
    replay = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()
    )
    assert replay == [1, 2], "replayed epoch must keep its survivors"
    scores_after = sorted(
        map(tuple, bm25_index_topk(spark, tidx, terms, k=10).collect())
    )
    assert scores_after == scores_before, "BM25 stats must not double-count"


def _png_of(arr):
    from atlas_upscaling_dask_spark.sources.png import encode_png

    return bytearray(encode_png(arr))


def test_image_dedup_stream_incremental_index(spark, tmp_path):
    # Image twin of the crawl-dedup stream: drop 1 seeds the archive;
    # drop 2 holds a near-dup of an archived image (tiny perturbation),
    # an in-batch dup pair, and a fresh image.  Stop/restart between
    # drops (the staging protocol — never append into a watched dir
    # while the query runs).
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.dedup import build_phash_index
    from atlas_upscaling_dask_spark.streaming.ingest import (
        start_image_dedup_stream,
    )

    rng = np.random.default_rng(21)
    base = rng.integers(0, 256, size=(48, 48), dtype=np.uint8)
    near = base.copy()
    near[:3, :3] = np.clip(near[:3, :3] + 1, 0, 255)
    other = rng.integers(0, 256, size=(48, 48), dtype=np.uint8)
    fresh = rng.integers(0, 256, size=(40, 56), dtype=np.uint8)
    drop1 = [(1, _png_of(base)), (2, _png_of(other))]
    drop2 = [
        (10, _png_of(near)),   # near-dup of archived 1 -> dropped
        (11, _png_of(fresh)),  # new -> survives
        (12, _png_of(fresh)),  # exact in-batch dup of 11 -> dropped
    ]
    schema = "media_id long, payload binary"
    src = str(tmp_path / "img_src")
    idx = str(tmp_path / "img_idx")
    out = str(tmp_path / "img_out")
    ckpt = str(tmp_path / "img_ckpt")

    d1 = spark.createDataFrame(drop1, schema)
    d2 = spark.createDataFrame(drop2, schema)
    # empty bootstrap with pinned band geometry
    build_phash_index(
        spark.createDataFrame([], "media_id long, phash long"), idx
    )

    def run_drop(df):
        df.write.mode("append").parquet(src)
        q = start_image_dedup_stream(
            spark, src, idx, out, d1.schema, checkpoint_dir=ckpt
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_drop(d1)
    run_drop(d2)

    e0 = {r["media_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    e1 = {r["media_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert e0 == {1, 2}
    assert e1 == {11}


def test_image_dedup_batch_replay_is_lossless(spark, tmp_path):
    # replay: the per-batch unit runs TWICE with the same epoch id (the
    # first attempt already appended fingerprints); the self-match
    # filter plus the marker fence must keep output and index identical
    import numpy as np

    from atlas_upscaling_dask_spark.extensions import index_store
    from atlas_upscaling_dask_spark.extensions.dedup import build_phash_index
    from atlas_upscaling_dask_spark.streaming.ingest import image_dedup_batch

    rng = np.random.default_rng(9)
    imgs = [rng.integers(0, 256, size=(36, 36), dtype=np.uint8) for _ in range(3)]
    batch = spark.createDataFrame(
        [(i, _png_of(imgs[i])) for i in range(3)],
        "media_id long, payload binary",
    )
    idx = str(tmp_path / "ridx")
    out = str(tmp_path / "rout")
    mark = str(tmp_path / "rmark")
    build_phash_index(
        spark.createDataFrame([], "media_id long, phash long"), idx
    )
    image_dedup_batch(spark, batch, 0, idx, out, marker_dir=mark)
    first = sorted(
        r["media_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()
    )
    def n_index_rows() -> int:
        return index_store.read(spark, idx, index_store.PHASH, {}).count()

    n_before = n_index_rows()
    assert first == [0, 1, 2]

    image_dedup_batch(spark, batch, 0, idx, out, marker_dir=mark)  # replay
    again = sorted(
        r["media_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()
    )
    assert again == first, "replay must not lose survivors to self-matches"
    assert n_index_rows() == n_before, "marker fence must stop duplicate appends"


def test_scd2_stream_maintains_history(spark, tmp_path):
    # streaming dimension maintenance: two drops (stop/restart staging
    # protocol) must leave the SAME table as one batch build
    from atlas_upscaling_dask_spark.operators.merge import (
        read_scd2_table,
        scd2_build,
        write_scd2_table,
    )
    from atlas_upscaling_dask_spark.streaming.ingest import start_scd2_stream
    from pyspark.sql import functions as F

    def feed(rows):
        return spark.createDataFrame(
            rows, "k long, t long, seg string, eid long"
        ).select(
            "k", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"),
            "seg", "eid",
        )

    drop1 = [(1, 100, "A", 1), (2, 100, "X", 2)]
    drop2 = [(1, 200, "B", 3), (3, 50, "N", 4)]
    src = str(tmp_path / "scd2_src")
    tbl = str(tmp_path / "scd2_tbl")
    ckpt = str(tmp_path / "scd2_ckpt")
    write_scd2_table(feed([]).limit(0), tbl, "k", ["seg"], "ts", ["eid"], n_buckets=4)

    def run_drop(df):
        df.write.mode("append").parquet(src)
        q = start_scd2_stream(
            spark, src, tbl, feed([]).schema, "ts", ["eid"],
            checkpoint_dir=ckpt,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_drop(feed(drop1))
    run_drop(feed(drop2))

    got = sorted(map(tuple, read_scd2_table(spark, tbl).collect()),
                 key=lambda t: (t[0], t[5]))
    want = sorted(
        map(tuple, scd2_build(feed(drop1 + drop2), "k", ["seg"], "ts", ["eid"]).collect()),
        key=lambda t: (t[0], t[5]),
    )
    assert got == want and len(got) == 4


def test_cms_stream_equals_whole_corpus_sketch(spark, tmp_path):
    # Streaming CMS maintenance: the sum-merge fold is exact, so the
    # final state after two drops must be IDENTICAL to sketching the
    # concatenated corpus in one batch.  Stop/restart between drops
    # (the anomaly-test staging protocol).
    from atlas_upscaling_dask_spark.extensions.sketches import cms_build
    from atlas_upscaling_dask_spark.streaming.ingest import (
        read_agg_state,
        start_cms_stream,
    )

    schema = "doc_id long, text string"
    drop1 = [(i, "alpha beta gamma alpha") for i in range(20)]
    drop2 = [(100 + i, "beta delta") for i in range(10)]
    d1 = spark.createDataFrame(drop1, schema)
    d2 = spark.createDataFrame(drop2, schema)
    full = spark.createDataFrame(drop1 + drop2, schema)

    src = str(tmp_path / "cms_src")
    state = str(tmp_path / "cms_state")
    ckpt = str(tmp_path / "cms_ckpt")
    d1.write.mode("append").parquet(src)

    q = start_cms_stream(spark, src, state, d1.schema, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    mid = read_agg_state(spark, state)
    want1 = cms_build(
        d1.select(F.explode(F.split("text", " ")).alias("token")), "token"
    )
    assert mid.exceptAll(want1).isEmpty() and want1.exceptAll(mid).isEmpty()

    d2.write.mode("append").parquet(src)
    q = start_cms_stream(spark, src, state, d1.schema, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = read_agg_state(spark, state)
    want = cms_build(
        full.select(F.explode(F.split("text", " ")).alias("token")), "token"
    )
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_kmv_stream_equals_whole_history_sketch(spark, tmp_path):
    # Streaming KMV maintenance: the k-smallest-of-union fold is exact
    # (mergeability), so the final per-group state after two drops must
    # be IDENTICAL to sketching the concatenated history in one batch —
    # including a group that only appears in drop 2.  Stop/restart
    # between drops (the anomaly-test staging protocol).
    from atlas_upscaling_dask_spark.extensions.sketches import kmv_sketch
    from atlas_upscaling_dask_spark.streaming.ingest import (
        read_agg_state,
        start_kmv_stream,
    )

    schema = "event_id long, event_type string, user_id long"
    drop1 = [(i, "click", i % 40) for i in range(60)]
    drop2 = [(100 + i, "click", 30 + (i % 50)) for i in range(50)] + [
        (990 + i, "view", i) for i in range(5)
    ]
    d1 = spark.createDataFrame(drop1, schema)
    d2 = spark.createDataFrame(drop2, schema)
    full = spark.createDataFrame(drop1 + drop2, schema)

    src = str(tmp_path / "kmv_src")
    state = str(tmp_path / "kmv_state")
    ckpt = str(tmp_path / "kmv_ckpt")
    d1.write.mode("append").parquet(src)

    q = start_kmv_stream(spark, src, state, d1.schema, k=16, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    d2.write.mode("append").parquet(src)
    q = start_kmv_stream(spark, src, state, d1.schema, k=16, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = read_agg_state(spark, state)
    want = kmv_sketch(full, "user_id", ["event_type"], k=16)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_hll_stream_equals_whole_history_sketch(spark, tmp_path):
    # Streaming HLL maintenance: the per-bucket max fold is exact
    # (associative + idempotent), so the final per-group registers
    # after two drops must be IDENTICAL to sketching the concatenated
    # history in one batch — including a group only present in drop 2.
    from atlas_upscaling_dask_spark.extensions.sketches import hll_sketch
    from atlas_upscaling_dask_spark.streaming.ingest import (
        read_agg_state,
        start_hll_stream,
    )

    schema = "event_id long, event_type string, user_id long"
    drop1 = [(i, "click", i % 40) for i in range(60)]
    drop2 = [(100 + i, "click", 30 + (i % 50)) for i in range(50)] + [
        (990 + i, "view", i) for i in range(5)
    ]
    d1 = spark.createDataFrame(drop1, schema)
    d2 = spark.createDataFrame(drop2, schema)
    full = spark.createDataFrame(drop1 + drop2, schema)

    src = str(tmp_path / "hll_src")
    state = str(tmp_path / "hll_state")
    ckpt = str(tmp_path / "hll_ckpt")
    d1.write.mode("append").parquet(src)

    q = start_hll_stream(spark, src, state, d1.schema, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    d2.write.mode("append").parquet(src)
    q = start_hll_stream(spark, src, state, d1.schema, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = read_agg_state(spark, state)
    want = hll_sketch(full, "user_id", ["event_type"], b=8)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_zarr3_ingestion_updates_live_store(spark, tmp_path):
    # slabs stream into a sharded Zarr v3 store shard-by-shard: after
    # each micro-batch wave the store reflects exactly the slabs seen
    import numpy as np

    from atlas_upscaling_dask_spark.sinks.zarr3 import (
        read_zarr3_level,
        write_zarr3,
    )
    from atlas_upscaling_dask_spark.streaming.ingest import start_zarr3_ingestion
    from atlas_upscaling_dask_spark.volume import (
        PAYLOAD_DTYPE,
        VolumeMeta,
        synthetic_chunks,
        synthetic_voxels,
    )

    meta = VolumeMeta(16, 16, 16)
    store = str(tmp_path / "live.zarr")
    # seed: an all-zero store with the target grid (4,16,16) chunks,
    # (4,1,1)-chunk shards
    import pandas as pd

    zero = np.zeros((4, 16, 16), dtype=PAYLOAD_DTYPE).tobytes()
    seed = spark.createDataFrame(pd.DataFrame({
        "volume_id": ["v"] * 4,
        "cz": list(range(4)), "cy": [0] * 4, "cx": [0] * 4,
        "z0": [i * 4 for i in range(4)], "y0": [0] * 4, "x0": [0] * 4,
        "dz": [4] * 4, "dy": [16] * 4, "dx": [16] * 4,
        "codec": ["raw"] * 4,
        "payload": [zero] * 4,
    }))
    write_zarr3(seed, store, meta, shard=(4, 1, 1))
    assert not read_zarr3_level(store, 0).any()

    vox = synthetic_voxels(spark).cache()
    slices = str(tmp_path / "slices")
    os.makedirs(slices, exist_ok=True)
    q = start_zarr3_ingestion(spark, slices, store, (16, 16, 16))
    try:
        # wave 1: bottom half
        for i in range(2):
            vox.filter((F.col("z") >= i * 4) & (F.col("z") < (i + 1) * 4)).coalesce(
                1
            ).write.mode("append").parquet(slices)
        q.processAllAvailable()
        dense = read_zarr3_level(store, 0)
        assert dense[:8].any() and not dense[8:].any()
        # wave 2: top half
        for i in range(2, 4):
            vox.filter((F.col("z") >= i * 4) & (F.col("z") < (i + 1) * 4)).coalesce(
                1
            ).write.mode("append").parquet(slices)
        q.processAllAvailable()
    finally:
        q.stop()

    # final store equals the full synthetic volume
    want = np.zeros((16, 16, 16), dtype=PAYLOAD_DTYPE)
    for r in vox.collect():
        want[r["z"], r["y"], r["x"]] = r["label"]
    np.testing.assert_array_equal(read_zarr3_level(store, 0), want)


def test_zarr3_ingestion_rejects_mismatched_meta_shape(spark, tmp_path):
    # a caller-supplied shape that disagrees with the store's own
    # zarr.json would pack chunks outside the readable grid — written
    # but never scanned back; it must be rejected up front
    import numpy as np
    import pytest

    from atlas_upscaling_dask_spark.sinks.zarr3 import write_zarr3
    from atlas_upscaling_dask_spark.streaming.ingest import (
        start_zarr3_ingestion,
    )
    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    meta = VolumeMeta(16, 16, 16)
    store = str(tmp_path / "live.zarr")
    write_zarr3(
        synthetic_chunks(spark, meta, chunk=(8, 8, 8)), store, meta,
        shard=(2, 2, 2),
    )
    with pytest.raises(ValueError, match="meta_shape"):
        start_zarr3_ingestion(
            spark, str(tmp_path / "slices"), store, (32, 16, 16)
        )


def _warc_archive(doc_ids, dup_of=None):
    # one archive with a 200 text/html response per doc id; dup_of maps
    # a doc id to the id whose canonical URL it duplicates (raw
    # spellings still differ: tracking params + fragments vary by id)
    from atlas_upscaling_dask_spark.sources.warc import encode_warc

    records = []
    for d in doc_ids:
        key = dup_of.get(d, d) if dup_of else d
        uri = (
            f"http://Crawl{key % 4}.example.com/page/{key}"
            f"?utm_x={d}&k={key}#frag{d}"
        )
        # key%4==1 pages are windows-1252 with non-ASCII content: the
        # ingest path must route through the charset-aware decoder,
        # not a hard UTF-8 decode (which would mojibake the € and é)
        text = f"body {key}" + (" café €" if key % 4 == 1 else "")
        html = f"<html><title>T{key}</title><p>{text}</p></html>"
        http_headers = {}
        if key % 4 == 1:
            payload = html.encode("windows-1252")
            http_headers["Content-Type"] = "text/html; charset=windows-1252"
        else:
            payload = html.encode()
        records.append(
            {"type": "response", "uri": uri, "status": 200,
             "payload": payload, "chunked": d % 2 == 0,
             "http_headers": http_headers,
             "content_encoding": "gzip" if d % 3 == 0 else None}
        )
    return encode_warc(records, gzip_per_record=True)


def test_warc_ingest_batch_frontier_dedup_and_replay(spark, tmp_path):
    from atlas_upscaling_dask_spark.streaming.ingest import warc_ingest_batch

    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "pages")
    marker = str(tmp_path / "ck")

    b0 = spark.createDataFrame(
        [(1, bytearray(_warc_archive([10, 11, 12], dup_of={12: 10})))],
        "media_id long, payload binary",
    )
    warc_ingest_batch(spark, b0, 0, ledger, out, marker_dir=marker)
    got0 = spark.read.parquet(f"{out}/epoch=0")
    # in-batch dup of 10's canonical URL collapsed; 2 distinct pages
    assert got0.count() == 2
    urls0 = {r["canonical_url"] for r in got0.collect()}
    assert urls0 == {
        "http://crawl2.example.com/page/10?k=10",
        "http://crawl3.example.com/page/11?k=11",
    }
    row10 = got0.filter(
        F.col("canonical_url").endswith("page/10?k=10")
    ).collect()[0]
    assert row10["title"] == "T10"
    assert row10["text"] == "T10 body 10"

    # epoch 1: one already-seen URL (10) + one new (13)
    b1 = spark.createDataFrame(
        [(2, bytearray(_warc_archive([13, 10])))],
        "media_id long, payload binary",
    )
    warc_ingest_batch(spark, b1, 1, ledger, out, marker_dir=marker)
    got1 = spark.read.parquet(f"{out}/epoch=1")
    assert [r["canonical_url"] for r in got1.collect()] == [
        "http://crawl1.example.com/page/13?k=13"
    ]
    # doc 13 is the windows-1252 page: the streaming ingest must yield
    # text byte-identical to the batch path (warc_records' shared
    # charset-decoded column + extract_html_text)
    from atlas_upscaling_dask_spark.extensions.text import extract_html_text
    from atlas_upscaling_dask_spark.sources.warc import warc_records

    batch_pages = extract_html_text(
        warc_records(b1)
        .filter(F.col("target_uri").contains("page/13"))
        .select("media_id", F.col("text").alias("html"))
    )
    batch_text = batch_pages.collect()[0]["text"]
    assert batch_text == "T13 body 13 café €"
    assert got1.collect()[0]["text"] == batch_text

    # replay epoch 1: output identical (self-rows excluded from probe,
    # marker fences the second append)
    warc_ingest_batch(spark, b1, 1, ledger, out, marker_dir=marker)
    re1 = spark.read.parquet(f"{out}/epoch=1")
    assert [r["canonical_url"] for r in re1.collect()] == [
        "http://crawl1.example.com/page/13?k=13"
    ]
    led = spark.read.parquet(ledger)
    assert led.count() == 3  # no duplicate appends
    assert led.select("canonical_url").distinct().count() == 3


def test_warc_ingest_stream_with_robots_gate(spark, tmp_path):
    import time

    from atlas_upscaling_dask_spark.extensions.urls import robots_rules
    from atlas_upscaling_dask_spark.streaming.ingest import (
        start_warc_ingest_stream,
    )

    archives = str(tmp_path / "archives")
    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "pages")
    ck = str(tmp_path / "ck")

    robots = robots_rules(
        spark.createDataFrame(
            [("crawl0.example.com", "User-agent: *\nDisallow: /page\n")],
            "host string, robots_txt string",
        )
    )
    spark.createDataFrame(
        [(1, bytearray(_warc_archive([20, 21, 22, 23])))],
        "media_id long, payload binary",
    ).write.parquet(archives)

    q = start_warc_ingest_stream(
        spark, archives, ledger, out,
        schema="media_id long, payload binary",
        checkpoint_dir=ck, robots_rules_df=robots,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    urls = sorted(r["canonical_url"] for r in got.collect())
    # doc 20 hashes to host crawl0 -> robots-blocked; 21/22/23 pass
    assert urls == [
        "http://crawl1.example.com/page/21?k=21",
        "http://crawl2.example.com/page/22?k=22",
        "http://crawl3.example.com/page/23?k=23",
    ]


def test_read_agg_state_lists_a_file_uri(spark, tmp_path):
    # state versions are listed through the Hadoop FileSystem: the same
    # directory given as a file:// URI must find the same epochs (a
    # local-only listing returned None there, restarting every stream's
    # state at each epoch)
    from atlas_upscaling_dask_spark.streaming.ingest import read_agg_state

    state = tmp_path / "state"
    for epoch in (0, 1):
        spark.createDataFrame([(epoch,)], "v long").write.parquet(
            str(state / f"epoch={epoch}")
        )
    for path in (str(state), "file://" + str(state)):
        assert read_agg_state(spark, path).collect()[0]["v"] == 1
        assert read_agg_state(spark, path, before_epoch=1).collect()[0]["v"] == 0
    assert read_agg_state(spark, "file://" + str(tmp_path / "absent")) is None


def test_frontier_ledger_at_a_file_uri_keeps_earlier_batches(spark, tmp_path):
    # the ledger probe lists through the Hadoop FileSystem: at a
    # file:// URI a second batch must merge into the existing bucket,
    # not overwrite it with only the new rows
    from atlas_upscaling_dask_spark.streaming.ingest import (
        FRONTIER_FETCH_SCHEMA,
        apply_frontier_updates,
    )

    table = "file://" + str(tmp_path / "frontier")
    urls = ["http://a.example/one", "http://b.example/two"]
    for url in urls:
        batch = spark.createDataFrame(
            [(url, 1000, 200, None, None, None, None)], FRONTIER_FETCH_SCHEMA
        )
        apply_frontier_updates(spark, table, batch, n_buckets=1)
    got = {r["final_url"] for r in spark.read.parquet(table).collect()}
    assert got == set(urls)


def test_crawl_frontier_stream_maintains_next_fetch(spark, tmp_path):
    """r10 verdict #5: the frontier ledger composes recrawl_schedule
    (RFC 9111) + robots_crawl_delays (politeness floor) +
    resolve_redirects (terminus keying) under foreachBatch; two drops
    must equal a single batch apply over the concatenated feed, and
    replaying a drop must be a no-op (latest-wins is deterministic)."""
    from atlas_upscaling_dask_spark.streaming.ingest import (
        FRONTIER_FETCH_SCHEMA,
        apply_frontier_updates,
        frontier_updates,
        read_frontier_due,
        start_crawl_frontier_stream,
    )
    from pyspark.sql import functions as F

    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nCrawl-delay: 600\nDisallow: /x\n"),
         ("b.example", "User-agent: *\nDisallow: /y\n")],
        "host string, robots_txt string",
    )

    def feed(rows):
        return spark.createDataFrame(rows, FRONTIER_FETCH_SCHEMA)

    # drop 1: a redirect chain a->b->c (terminus keying), a max-age
    # page, and a default-TTL page on the delayed host
    drop1 = [
        ("http://a.example/start", 1000, 301,
         "http://a.example/mid", None, None, None),
        ("http://a.example/mid", 1000, 302,
         "http://b.example/final", None, None, None),
        ("http://b.example/final", 1000, 200,
         None, "max-age=500", None, None),
        ("http://a.example/page", 2000, 200, None, None, None, None),
    ]
    # drop 2: refetch of the terminus with a new policy -> must win
    drop2 = [
        ("http://b.example/final", 5000, 200,
         None, "no-cache", None, None),
    ]

    src = str(tmp_path / "fetches")
    tbl = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "frontier_ckpt")

    def run_drop(rows):
        feed(rows).coalesce(1).write.mode("append").parquet(src)
        q = start_crawl_frontier_stream(
            spark, src, tbl, robots=robots, n_buckets=8, max_hops=4,
            checkpoint_dir=ckpt,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_drop(drop1)
    rows = {
        r["final_url"]: r
        for r in spark.read.parquet(tbl).collect()
    }
    # chain rows key on the terminus; the 200 terminus row wins the
    # fetch_ts tie among the three chain members (same ts, but
    # max-age beats the redirect rows' identical schedule? no — all
    # three rows share final_url AND fetch_ts; the deterministic
    # order picks the largest next_fetch_ts)
    assert set(rows) == {"http://b.example/final", "http://a.example/page"}
    final = rows["http://b.example/final"]
    assert final["host"] == "b.example"
    # among the three chain members (same fetch_ts) the TERMINUS'S OWN
    # fetch (n_hops 0) wins: its max-age=500 beats the redirect rows'
    # default TTL in authority, not in magnitude
    assert final["n_hops"] == 0
    assert final["freshness_source"] == "max-age"
    assert final["next_fetch_ts"] == 1000 + 500
    # a.example/page: default TTL 86400, politeness floor 2000+600
    page = rows["http://a.example/page"]
    assert page["freshness_source"] == "default"
    assert page["next_fetch_ts"] == 2000 + 86400
    assert page["crawl_delay_sec"] == 600.0

    run_drop(drop2)
    rows = {
        r["final_url"]: r for r in spark.read.parquet(tbl).collect()
    }
    final = rows["http://b.example/final"]
    assert final["fetch_ts"] == 5000
    assert final["freshness_source"] == "no-cache"
    assert final["next_fetch_ts"] == 5000  # ttl 0, no delay on b.example

    # batch ≡ stream: one apply over the concatenated feed
    tbl2 = str(tmp_path / "frontier_batch")
    apply_frontier_updates(
        spark, tbl2, feed(drop1 + drop2), robots=robots, n_buckets=8,
        max_hops=4,
    )
    got = sorted(
        map(tuple, spark.read.parquet(tbl).drop("bucket").collect())
    )
    want = sorted(
        map(tuple, spark.read.parquet(tbl2).drop("bucket").collect())
    )
    assert got == want

    # replay idempotence: re-applying drop2 leaves the table identical
    apply_frontier_updates(
        spark, tbl, feed(drop2), robots=robots, n_buckets=8, max_hops=4
    )
    again = sorted(
        map(tuple, spark.read.parquet(tbl).drop("bucket").collect())
    )
    assert again == got

    # read side: due set at a given now_ts
    due = {
        r["final_url"]
        for r in read_frontier_due(spark, tbl, now_ts=5000).collect()
    }
    assert due == {"http://b.example/final"}
    due_all = {
        r["final_url"]
        for r in read_frontier_due(spark, tbl, now_ts=90000).collect()
    }
    assert due_all == {"http://b.example/final", "http://a.example/page"}

    # politeness floor dominates a shorter RFC TTL
    fl = frontier_updates(
        feed([("http://a.example/q", 100, 200, None, "max-age=10",
               None, None)]),
        robots=robots,
    ).collect()[0]
    assert fl["ttl_sec"] == 10 and fl["next_fetch_ts"] == 100 + 600
