"""Changelog application (MERGE / CDC-apply): fold a stream of keyed
upserts and deletes into a base snapshot, latest-wins.

The reference has no mutation surface at all (its stores are written
once, `upscale_streaming.py:119-127` rmtree-then-write), but any
long-lived 100 TB corpus needs one: nightly re-crawls, takedown
requests, and label fixes arrive as a *changelog*, and rewriting the
snapshot is `apply_changelog(base, changes)`.

Plan shape (the part that matters at scale):

* ONE wide transform — `base ∪ changes` → per-key max-sequence election
  via a single hash aggregation — so the cost is one shuffle of
  (base + changes) on the key, the same lower bound a warehouse MERGE
  pays.  No driver loop, no per-key lookups.
* The election is an aggregation (`max_by`-style struct max), not a
  row_number window: partial aggregation runs map-side, so a changelog
  that touches 1% of keys ships ~1% + dedup'd base rows through the
  exchange after AQE.
* Deletes are rows that win the election and are then filtered out —
  tombstones never reach the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fsutil

#: sequence number assigned to base-snapshot rows; any real change wins.
BASE_SEQ = -1


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "delete",
) -> DataFrame:
    """Fold ``changes`` into ``base``; returns the new snapshot.

    ``base`` holds the payload columns plus ``key_col``.  ``changes``
    holds the same payload columns plus ``key_col``, a monotonically
    increasing ``seq_col`` (commit order; ties broken by the larger
    sequence being authoritative) and ``op_col`` in
    {'upsert', ``delete_op``}.  For every key the row with the highest
    sequence wins; a winning delete removes the key.  Base rows carry
    sequence ``BASE_SEQ`` so any change outranks them.
    """
    payload = [c for c in base.columns if c != key_col]
    missing = [c for c in payload if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing payload columns: {missing}")

    b = base.select(
        key_col,
        F.lit(BASE_SEQ).cast("long").alias(seq_col),
        F.lit("upsert").alias(op_col),
        *payload,
    )
    c = changes.select(
        key_col, F.col(seq_col).cast("long").alias(seq_col), op_col, *payload
    )
    unioned = b.unionByName(c)
    # max_by(struct(seq, op, payload...), seq) as a plain max over a
    # struct whose FIRST field is the sequence: struct ordering is
    # lexicographic, so max == the highest-sequence row.  A plain
    # aggregate (unlike row_number) gets map-side partial aggregation.
    packed = F.struct(
        F.col(seq_col).alias("_seq"),
        F.col(op_col).alias("_op"),
        *[F.col(p).alias(p) for p in payload],
    )
    won = unioned.groupBy(key_col).agg(F.max(packed).alias("w"))
    return won.filter(F.col("w._op") != delete_op).select(
        key_col, *[F.col(f"w.{p}").alias(p) for p in payload]
    )


def scd2_build(
    changes: DataFrame,
    key_col: str,
    attr_cols: list[str],
    ts_col: str = "ts",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Build a type-2 slowly-changing dimension from a change feed:
    per-key validity intervals for each distinct run of attribute
    values, the standard warehouse history table.

    Consecutive rows with identical attributes collapse into one
    interval (gaps-and-islands: a null-safe lag-compare flags change
    points, a running sum numbers the islands).  ``valid_to`` is the
    next interval's ``valid_from`` (half-open intervals, NULL = current
    row); ``version`` is the per-key 1-based interval ordinal.

    Scale shape: everything is keyed by ``key_col`` — the lag window,
    the island aggregation, and the lead window all cluster on the same
    key, so the plan pays ONE hash exchange and Spark reuses that
    partitioning for the island groupBy (subset-key clustering) and the
    final window.  No self-joins, no driver state; 100 TB of history
    shuffles once.
    """
    from pyspark.sql import Window

    order = [ts_col, *(tiebreak_cols or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    same = F.row_number().over(w) > 1  # first row always opens an island
    for c in attr_cols:
        same = same & F.col(c).eqNullSafe(F.lag(c).over(w))
    flagged = changes.withColumn(
        "_chg", F.when(same, F.lit(0)).otherwise(F.lit(1))
    ).withColumn(
        "_island",
        F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = flagged.groupBy(key_col, "_island", *attr_cols).agg(
        F.min(ts_col).alias("_valid_from")
    )
    # order by island number, not valid_from: two islands of one key can
    # share a min-timestamp (same-ts changes), and island numbers are
    # monotone in change order — deterministic where ts alone is not
    wl = Window.partitionBy(key_col).orderBy("_island")
    return islands.select(
        key_col,
        *attr_cols,
        F.unix_micros("_valid_from").alias("valid_from_us"),
        F.unix_micros(F.lead("_valid_from").over(wl)).alias("valid_to_us"),
        F.lead("_valid_from").over(wl).isNull().alias("is_current"),
        F.col("_island").cast("int").alias("version"),
    )


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    key_col: str,
    fact_time_us: str,
    payload_cols: list[str],
) -> DataFrame:
    """Temporal dimension lookup: attach to each fact row the SCD2
    interval that was valid at its timestamp — ``scd2_build``'s read
    side, and the warehouse "join facts to dimension AS OF event time".

    ``dim`` is a ``scd2_build`` output (``valid_from_us`` bounds);
    ``fact_time_us`` is the fact's epoch-micros column.  Because the
    intervals are half-open and contiguous per key, the containing
    interval is simply the latest one with ``valid_from_us ≤ t`` — a
    backward as-of join (`operators/asof.py`: union + one keyed window
    scan, never a per-fact range probe).  Facts before the key's first
    interval get NULL payloads.  Same-instant version chains (several
    intervals sharing a valid_from) first collapse to the highest
    version — "the state reached at that instant" — keeping the right
    side unique per (key, time) as the as-of contract requires.

    The matched interval's columns travel through the as-of scan as ONE
    non-null struct, not as separate columns: the scan carries payloads
    with ``last(ignorenulls)``, which would skip a legitimately-NULL
    attribute and smuggle in the PREVIOUS interval's value next to the
    current interval's version.  The struct is null only when no
    interval matches, so NULL attributes come through faithfully.
    """
    from .asof import asof_join

    packed = F.struct(F.col("version").alias("_v"), *[
        F.col(c).alias(c) for c in payload_cols if c != "version"
    ])
    uniq = (
        dim.groupBy(key_col, "valid_from_us")
        .agg(F.max(packed).alias("w"))
        .select(key_col, "valid_from_us", F.col("w").alias("_p"))
    )
    attrs = [c for c in payload_cols if c != "version"]
    joined = asof_join(
        facts,
        uniq,
        left_on=key_col,
        right_on=key_col,
        left_time=fact_time_us,
        right_time="valid_from_us",
        payload_cols=["_p"],
    )
    return joined.select(
        *facts.columns,
        *[F.col(f"_p.{c}").alias(c) for c in attrs],
        F.col("_p._v").alias("version"),
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Keyed snapshot diff: which rows were added, removed, or changed
    between two versions of a table — the audit half of the CDC story
    (``apply_changelog`` replays a changelog; this derives one from two
    snapshots, e.g. yesterday's corpus vs today's re-crawl).

    One full outer join on the key (a single co-partitioned exchange of
    both sides; bucketed snapshots make it exchange-free —
    `sinks/bucketed.py`).  ``changed`` uses null-safe comparison
    (``eqNullSafe``) per compared column, so NULL→value and value→NULL
    edits are detected.  Output: keys + status + per-column old_/new_
    values; ``include_unchanged=False`` (default) drops the unchanged
    rows — at 100 TB the diff result is sized by churn, not by the
    table.
    """
    if compare_cols is None:
        compare_cols = [
            c for c in new.columns if c in set(old.columns) and c not in key_cols
        ]
    o = old.select(
        *key_cols, *[F.col(c).alias(f"old_{c}") for c in compare_cols]
    ).withColumn("_in_old", F.lit(1))
    n = new.select(
        *key_cols, *[F.col(c).alias(f"new_{c}") for c in compare_cols]
    ).withColumn("_in_new", F.lit(1))
    j = o.join(n, key_cols, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    status = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(same, "unchanged")
        .otherwise("changed")
    )
    out = j.select(
        *key_cols,
        status.alias("status"),
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
    )
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return out


_SCD2_SIDECAR = "/_scd2_table.json"  # a persisted SCD2 table's params


def write_scd2_table(
    changes: DataFrame,
    path: str,
    key_col: str,
    attr_cols: list[str],
    ts_col: str = "ts",
    tiebreak_cols: list[str] | None = None,
    n_buckets: int = 16,
) -> None:
    """Build an SCD2 history table and persist it bucket-partitioned —
    the storage layout that makes `apply_scd2_changes` incremental: the
    key hashes into ``n_buckets`` partitions, so folding a change batch
    rewrites ONLY the buckets its keys live in (dynamic partition
    overwrite), never the whole history.  A params sidecar pins the
    layout; 100 TB of dimension history updates at O(touched buckets).
    """
    hist = scd2_build(changes, key_col, attr_cols, ts_col, tiebreak_cols)
    out = hist.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    )
    out.write.mode("overwrite").partitionBy("bucket").parquet(path)
    fsutil.write_json(
        changes.sparkSession,
        path.rstrip("/") + _SCD2_SIDECAR,
        {
            "key_col": key_col,
            "attr_cols": list(attr_cols),
            "n_buckets": n_buckets,
            "key_type": changes.schema[key_col].dataType.simpleString(),
            # pinned so a freshly-bootstrapped EMPTY table (no
            # parquet files yet) still reads — same contract as
            # the persisted-index family's schema-explicit scans
            "attr_types": {
                c: changes.schema[c].dataType.simpleString()
                for c in attr_cols
            },
        },
    )


def _scd2_params(spark, path: str) -> dict:
    return fsutil.read_json(spark, path.rstrip("/") + _SCD2_SIDECAR)


def _read_scd2(spark, path: str, p: dict) -> DataFrame:
    # schema-explicit: an empty bootstrap has no files to infer from
    attrs = ", ".join(
        f"{c} {t}" for c, t in p.get("attr_types", {}).items()
    ) or ", ".join(f"{c} string" for c in p["attr_cols"])
    schema = (
        f"{p['key_col']} {p.get('key_type', 'bigint')}, {attrs}, "
        f"valid_from_us bigint, valid_to_us bigint, is_current boolean, "
        f"version int, bucket int"
    )
    return spark.read.schema(schema).parquet(path)


def read_scd2_table(spark, path: str) -> DataFrame:
    """Read a persisted SCD2 table (drops the layout bucket column)."""
    return _read_scd2(spark, path, _scd2_params(spark, path)).drop("bucket")


def apply_scd2_changes(
    spark,
    path: str,
    new_changes: DataFrame,
    ts_col: str = "ts",
    tiebreak_cols: list[str] | None = None,
) -> None:
    """Fold a NEW change batch into a persisted SCD2 table — streaming
    dimension maintenance whose cost tracks the batch, not the history.

    Only the buckets containing the batch's keys are read and
    rewritten (partition-pruned scan + dynamic partition overwrite —
    the `operators/incremental.py` delta-invalidation pattern applied
    to dimension history).  Unaffected keys inside a touched bucket
    pass through untouched; affected keys' histories are rebuilt by
    replaying their existing intervals (ordered by stored version) plus
    the new batch through the same deterministic ``scd2_build``.

    Ordering contract: changes must arrive in commit order — a new
    batch's rows sort AFTER existing history at equal timestamps.  With
    that contract, applying batches one at a time equals one build over
    the concatenated feed (tested).

    Replay-safe: a batch row whose (key, timestamp, attributes) already
    exists as an interval start is an at-least-once re-delivery and is
    dropped before the rebuild — re-applying an epoch (the streaming
    driver's crash-recovery path) leaves the table byte-identical.
    The dropped-row rule can only misfire on a feed that legitimately
    revisits the exact same attribute tuple at the exact same
    microsecond it first appeared — outside the commit-order contract.
    """
    p = _scd2_params(spark, path)
    key_col, attr_cols = p["key_col"], p["attr_cols"]
    n_buckets = p["n_buckets"]

    # type pinning: xxhash64 is TYPE-sensitive, so a batch whose key
    # arrives as int against a bigint table would bucket the same key
    # VALUE elsewhere and fork its history across two partitions
    batch_key_t = new_changes.schema[key_col].dataType.simpleString()
    if batch_key_t != p.get("key_type", "bigint"):
        raise ValueError(
            f"batch key type {batch_key_t!r} != table's pinned "
            f"{p.get('key_type', 'bigint')!r} — same values would hash "
            f"into different buckets"
        )
    for c, t in p.get("attr_types", {}).items():
        bt = new_changes.schema[c].dataType.simpleString()
        if bt != t:
            raise ValueError(
                f"batch attr {c!r} type {bt!r} != table's pinned {t!r}"
            )

    batch_keys = new_changes.select(key_col).distinct()
    buckets = [
        r["b"]
        for r in batch_keys.select(
            F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).alias("b")
        )
        .distinct()
        .collect()  # bounded by n_buckets — a layout constant
    ]
    existing = _read_scd2(spark, path, p).filter(F.col("bucket").isin(buckets))
    keep = existing.join(batch_keys, key_col, "left_anti")

    # replay affected keys: intervals -> change feed.  Ordering within
    # a timestamp: __gen separates old history (ordered by its stored
    # version) from the new batch (ordered by ITS OWN tiebreak columns,
    # kept native-typed — casting them away would scramble same-ts
    # batches); the two orderings never interleave, so each side's
    # columns are NULL/constant on the other.
    tbs = list(tiebreak_cols or [])
    old_feed = existing.join(batch_keys, key_col, "left_semi").select(
        key_col,
        F.timestamp_micros(F.col("valid_from_us")).alias("__ts"),
        F.lit(0).alias("__gen"),
        F.col("version").cast("long").alias("__v"),
        *[
            F.lit(None).cast(new_changes.schema[c].dataType).alias(f"__tb{i}")
            for i, c in enumerate(tbs)
        ],
        *attr_cols,
    )
    new_feed = new_changes.select(
        key_col,
        F.col(ts_col).alias("__ts"),
        F.lit(1).alias("__gen"),
        F.lit(0).cast("long").alias("__v"),
        *[F.col(c).alias(f"__tb{i}") for i, c in enumerate(tbs)],
        *attr_cols,
    )
    # replay fence: drop re-delivered rows already reflected as an
    # interval start (null-safe attr compare — NULL attrs re-deliver too)
    marks = existing.join(batch_keys, key_col, "left_semi").select(
        F.col(key_col).alias("__mk"),
        F.col("valid_from_us").alias("__mt"),
        *[F.col(c).alias(f"__ma_{c}") for c in attr_cols],
    )
    cond = (F.col(key_col) == F.col("__mk")) & (
        F.unix_micros("__ts") == F.col("__mt")
    )
    for c in attr_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__ma_{c}"))
    new_feed = new_feed.join(marks, cond, "left_anti")
    rebuilt = scd2_build(
        old_feed.unionByName(new_feed),
        key_col,
        attr_cols,
        "__ts",
        ["__gen", "__v", *[f"__tb{i}" for i in range(len(tbs))]],
    ).withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    )
    out = keep.unionByName(rebuilt)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )
