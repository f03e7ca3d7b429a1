"""Persisted partitioned indexes: one on-disk format, one contract.

The LSH, pHash, BM25 and IVF/IVF-PQ indexes (``dedup.build_lsh_index``,
``dedup.build_phash_index``, ``retrieval.build_text_index``,
``similarity.build_ivf_index``) are parquet rows PARTITIONED BY a
layout key, a JSON params sidecar and an ``_tombstones`` directory.
Each function here takes the family's ``IndexFormat`` as data, so
write, append, read and takedown are one code path for all four.  The
sidecar pins the id type (pre-pin indexes: ``bigint``); reads are
schema-explicit, so an EMPTY bootstrap index (no files to infer from)
reads, and an append of another id type is refused.  All I/O goes
through ``fsutil``'s Hadoop FileSystem helpers, so any URI works.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import fsutil


class IndexFormat(NamedTuple):
    """One index family's layout; ``schema`` is its row DDL with
    ``{id_type}`` filled from the sidecar (``None``: inferred)."""

    sidecar: str
    part_col: str
    id_col: str
    schema: str | None


LSH = IndexFormat(
    "_lsh_index.json", "band", "doc_id",
    "doc_id {id_type}, sig_arr array<bigint>, band int, bkey string",
)
PHASH = IndexFormat(
    "_phash_index.json", "band", "media_id",
    "media_id {id_type}, phash bigint, bits bigint, band int",
)
BM25 = IndexFormat(
    "_corpus_stats.json", "bucket", "doc_id",
    "term string, doc_id {id_type}, dl int, tf bigint, bucket int",
)
# bucket assignment stores any integral id as long, so the IVF sidecar
# pins no id_type (reads as bigint) and its vector type is inferred
IVF = IndexFormat("_ivf_centroids.json", "bucket", "neighbor_id", None)

_ID_COLS = {f.id_col for f in (LSH, PHASH, BM25, IVF)}


def id_type(frame: DataFrame, col: str) -> str:
    """The DDL type name of ``frame[col]`` — what a sidecar pins."""
    return frame.schema[col].dataType.simpleString()


def params(spark, path: str, fmt: IndexFormat) -> dict:
    return fsutil.read_json(spark, f"{path.rstrip('/')}/{fmt.sidecar}")


def write_params(spark, path: str, fmt: IndexFormat, side: dict) -> None:
    fsutil.write_json(spark, f"{path.rstrip('/')}/{fmt.sidecar}", side)


def write(rows: DataFrame, path: str, fmt: IndexFormat, side: dict) -> None:
    """Build (overwrite) the index at ``path`` from ``rows``, then its sidecar."""
    rows.write.mode("overwrite").partitionBy(fmt.part_col).parquet(path)
    write_params(rows.sparkSession, path, fmt, side)


def append(rows: DataFrame, path: str, fmt: IndexFormat, side: dict) -> None:
    """Append ``rows`` under the existing partitions — the corpus is
    never re-read, so ingestion costs O(batch)."""
    batch_t, pinned = id_type(rows, fmt.id_col), side.get("id_type", "bigint")
    if batch_t != pinned:
        raise ValueError(
            f"batch id type {batch_t!r} does not match the index's pinned "
            f"id_type {pinned!r} — appending it would corrupt the "
            f"schema-explicit index read"
        )
    rows.write.mode("append").partitionBy(fmt.part_col).parquet(path)


def read(spark, path: str, fmt: IndexFormat, side: dict) -> DataFrame:
    """Every index row, tombstoned ones included (see ``live``)."""
    if fmt.schema is None:
        return spark.read.parquet(path)
    ddl = fmt.schema.format(id_type=side.get("id_type", "bigint"))
    return spark.read.schema(ddl).parquet(path)


def _tombstone_dir(path: str) -> str:
    # underscore prefix: Spark's scans treat _-prefixed paths as hidden,
    # so tombstones never leak into the index read itself
    return path.rstrip("/") + "/_tombstones"


def add_index_tombstones(spark, path: str, ids: DataFrame) -> None:
    """Takedown: ``ids`` (one column, any id type, matched by value)
    stop matching at the NEXT query of the index, without rewriting a
    partition; ``purge_index_tombstones`` deletes their rows later —
    the soft-delete + compaction design of append-only stores."""
    ids.toDF("id").write.mode("append").parquet(_tombstone_dir(path))


def _tombstones(spark, path: str) -> DataFrame | None:
    td = _tombstone_dir(path)
    # Hadoop FS probe, not os.listdir: the index (and so its tombstone
    # dir) can live on any supported filesystem
    return spark.read.parquet(td) if fsutil.data_file_sizes(spark, td) else None


def _as_ids(ts: DataFrame, df: DataFrame, id_col: str) -> DataFrame:
    # cast to the index column's exact type: an equi-join between a
    # long tombstone and a string id would otherwise coerce both sides
    # to double and match lossily above 2^53
    return F.broadcast(
        ts.select(F.col("id").cast(df.schema[id_col].dataType).alias(id_col))
        .distinct()
    )


def live(spark, path: str, fmt: IndexFormat, side: dict) -> DataFrame:
    """The index rows minus tombstoned ids — the corpus side of every
    index query."""
    df, ts = read(spark, path, fmt, side), _tombstones(spark, path)
    if ts is None:
        return df
    return df.join(_as_ids(ts, df, fmt.id_col), fmt.id_col, "left_anti")


def purge_index_tombstones(spark, path: str) -> dict:
    """Physically remove tombstoned rows by a rewrite minus the
    tombstones through ``fsutil.staged_swap`` (staged in
    ``path.__purge__``; sidecars kept, tombstones dropped), under the
    index's own ``key=value`` layout and id column.  A BM25 sidecar's
    (n_docs, sum_len) drop by the purged docs' lengths (docs without a
    posting keep counting until a rebuild).

    Returns {"tombstones_cleared" (distinct tombstone ids, held or
    not), "rows_before", "rows_after", "rows_purged"}.  The after-count
    rides the rewrite as an ``observe`` metric; the post-swap check is
    a schema-explicit ``limit(1)``, so a fully-purged index stays
    readable.
    """
    ts = _tombstones(spark, path)
    if ts is None:
        return dict.fromkeys(
            ("tombstones_cleared", "rows_before", "rows_after", "rows_purged"), 0
        )
    df = spark.read.parquet(path)
    id_col = next((c for c in df.columns if c in _ID_COLS), None)
    if id_col is None:
        raise ValueError(
            f"no known id column in index at {path} (columns {df.columns})"
        )
    partition_cols = fsutil.partition_columns(spark, path)
    before = df.count()
    ts_ids = _as_ids(ts, df, id_col)
    kept = df.join(ts_ids, id_col, "left_anti")

    stats = None
    stats_path = f"{path.rstrip('/')}/{BM25.sidecar}"
    if "dl" in df.columns and fsutil.exists(spark, stats_path):
        removed = (
            df.join(ts_ids, id_col, "left_semi")
            .select(id_col, "dl")
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
            )
            .first()
        )
        stats = params(spark, path, BM25)
        stats["n_docs"] = int(stats["n_docs"]) - int(removed["n"])
        stats["sum_len"] = int(stats["sum_len"]) - int(removed["s"])

    obs = Observation("purge")

    def write_kept(staging: str) -> None:
        (
            kept.observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(staging)
        )
        if int(obs.get["rows"]) == 0:
            # partitionBy over zero rows writes no parquet files, which
            # would leave the index un-inferable — stage one empty,
            # schema-bearing file instead (partition col inlined)
            spark.createDataFrame([], df.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staging)
        if stats is not None:
            write_params(spark, staging, BM25, stats)

    n_ids = ts.select("id").distinct().count()
    fsutil.staged_swap(
        spark,
        path,
        ".__purge__",
        write_kept,
        # schema-explicit so an empty index doesn't trip inference
        lambda: spark.read.schema(df.schema).parquet(path).limit(1).collect(),
        drop=("_tombstones",),
    )
    after = int(obs.get["rows"])
    return {
        "tombstones_cleared": n_ids,
        "rows_before": before,
        "rows_after": after,
        "rows_purged": before - after,
    }
