"""Physical-plan audit — the "would this survive 100×?" check, mechanized.

For each audited query this tool renders the formatted Catalyst plan and
asserts the scale invariants the design claims:

* ``pushdown``   — the parquet scan carries PushedFilters (point/slab
                   queries never scan the table);
* ``broadcast``  — small-dim joins chose BroadcastHashJoin, not a
                   shuffled join;
* ``no_shuffle`` — the plan has zero shuffle exchanges (narrow
                   pipelines must stay narrow);
* ``max_shuffles=N`` — budget for how many exchanges the plan may
                   contain (a regression here = an accidental extra
                   shuffle at 100 TB);
* ``spread_exchanges=N`` — exactly N group-hash spread exchanges, each
                   exempt from the shuffle budget;
* ``no_python_udf`` — no row-at-a-time Python UDF in the plan;
* ``no_single_partition`` / ``single_partition_budget=N`` — no (or at
                   most N) exchanges funnel through one partition;
* ``codegen``    — at least one WholeStageCodegen span in the final
                   adaptive plan (the hot path is JVM-compiled, not
                   interpreted).

A suite query's rules are declared next to it, as the ``audit=`` argument
of its ``suite._register`` call (collected in ``suite.AUDITS``).  This
module holds only the rows that audit a fixture rather than a suite query
(``FIXTURES``).  Unknown rule keys raise ``ValueError``.

Run:  python tools/audit_plans.py [SF_DIR] [NAME ...] [--write-md PLANS.md]
      python tools/audit_plans.py SF_DIR --plans DIR [--tag TAG] NAME ...

The first form audits every row (or the named ones) and exits non-zero
on any violated invariant; tests/test_plan_audit.py runs the same check
one pytest per row.  The second writes the formatted plan of each named
suite query or fixture to ``DIR/NAME_TAG.txt`` without auditing it.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    from atlas_upscaling_dask_spark.plans.estimate import explain

    return explain(df)


def final_plan_of(df) -> str:
    """Execute the frame (sf0.001 — cheap) and render the FINAL adaptive
    plan: only after execution does AQE materialize its re-planned tree,
    including WholeStageCodegen annotations and any runtime join
    downgrades/upgrades."""
    df.collect()
    return str(df._jdf.queryExecution().executedPlan())


def count_shuffles(plan: str) -> int:
    # formatted mode: exchange nodes appear as "(N) Exchange"; their
    # Arguments line distinguishes hash/range/single partitioning from
    # broadcast (BroadcastExchange is its own node name).
    return len(re.findall(r"\(\d+\) Exchange", plan))


# the partition-from-work fixture spread (r12): a group-hash
# REPARTITION_BY_NUM of a SINGLE-COLUMN id frame, keyed
# (id - (id % group)).  Every documents-derived media fixture spreads
# its one-split doc_id frame this way before the codec kernels (the
# exchange moves 8-byte ids, never payloads); those rows assert it with
# ``spread_exchanges: 1`` and keep their tight ``max_shuffles`` for
# everything else.  Matched exactly so `spread_exchanges` exempts only
# this intended exchange — any other exchange sneaking into a
# tight-budget row still fails the audit.
_SPREAD_EXCHANGE_RE = re.compile(
    r"\(\d+\) Exchange\s*\nInput \[1\]:[^\n]*\n"
    r"Arguments: hashpartitioning\(\(\w+#\d+L? - \(\w+#\d+L? % \d+\)\), "
    r"\d+\), REPARTITION_BY_NUM"
)

RULE_KEYS = frozenset(
    {
        "pushdown",
        "broadcast",
        "no_shuffle",
        "max_shuffles",
        "spread_exchanges",
        "codegen",
        "no_python_udf",
        "no_single_partition",
        "single_partition_budget",
    }
)


def count_spread_exchanges(plan: str) -> int:
    return len(_SPREAD_EXCHANGE_RE.findall(plan))


def check(plan: str, rules: dict) -> list[str]:
    """Structural rules against the formatted (pre-execution) plan;
    ``codegen`` is left to :func:`audit`, which needs the final plan."""
    unknown = set(rules) - RULE_KEYS
    if unknown:
        raise ValueError(f"unknown audit rule key(s): {sorted(unknown)}")
    errs = []
    if "spread_exchanges" in rules:
        allowed = rules["spread_exchanges"]
        found = count_spread_exchanges(plan)
        if found != allowed:
            errs.append(
                f"expected exactly {allowed} group-hash spread exchange(s), "
                f"found {found}"
            )
        # the asserted spread exchanges are exempt from the shuffle
        # budget below; rewrite the plan so count_shuffles no longer
        # sees them.  Guarded: re.sub's count=0 means "replace all".
        if allowed > 0:
            plan = _SPREAD_EXCHANGE_RE.sub(
                "(0) SpreadExempt", plan, count=allowed
            )
    if rules.get("pushdown") and "PushedFilters: [" not in plan.replace(
        "PushedFilters: []", ""
    ):
        errs.append("no pushed filters reached a scan")
    if rules.get("broadcast") and "BroadcastHashJoin" not in plan:
        errs.append("expected a broadcast hash join")
    if rules.get("no_shuffle") and count_shuffles(plan) > 0:
        errs.append(f"expected 0 shuffles, found {count_shuffles(plan)}")
    if "max_shuffles" in rules and count_shuffles(plan) > rules["max_shuffles"]:
        errs.append(
            f"shuffle budget exceeded: {count_shuffles(plan)} > {rules['max_shuffles']}"
        )
    if rules.get("no_python_udf") and re.search(r"BatchEvalPython|PythonUDF", plan):
        errs.append("row-at-a-time Python UDF in plan")
    if rules.get("no_single_partition") and "SinglePartition" in plan:
        errs.append(
            "plan funnels through Exchange SinglePartition (global sort/window)"
        )
    if "single_partition_budget" in rules:
        n = len(re.findall(r"Exchange SinglePartition", plan))
        if n > rules["single_partition_budget"]:
            errs.append(
                "SinglePartition budget exceeded: "
                f"{n} > {rules['single_partition_budget']} (a data-sized "
                "frame may be funneling through one partition)"
            )
    return errs


def audit(df, rules: dict, plan: str | None = None) -> list[str]:
    """Every violated invariant of ``df`` under ``rules`` (``rules`` is
    not modified).  Structural rules check the pre-AQE plan (``plan``,
    rendered here unless the caller already has it); codegen only exists
    in the executed, final adaptive plan, where codegen'd operators carry
    the star notation ``*(id)`` (WholeStageCodegen node names only appear
    in the formatted renderer, which AQE hides pre-execution)."""
    errs = check(plan_of(df) if plan is None else plan, rules)
    if rules.get("codegen") and not re.search(r"\*\(\d+\)", final_plan_of(df)):
        errs.append("no WholeStageCodegen span in final plan")
    return errs


def _point_lookup(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from atlas_upscaling_dask_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_orderkey") == 1) & (F.col("l_linenumber") == 1)
    ).select("l_orderkey", "l_quantity")


def _minhash_scale(spark, sf_dir: str):
    from atlas_upscaling_dask_spark.extensions.dedup import minhash_lsh_pairs
    from atlas_upscaling_dask_spark.tables import load_table

    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


_SCAN_FIXTURE: dict = {}


def _jsonl_scan(spark, sf_dir: str):
    import tempfile

    from atlas_upscaling_dask_spark.sources.jsonl import (
        read_jsonl,
        split_corrupt,
        write_jsonl,
    )

    if "jsonl" not in _SCAN_FIXTURE:
        d = tempfile.mkdtemp(prefix="audit_jsonl_")
        write_jsonl(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "doc_id long, text string"
            ),
            d,
        )
        _SCAN_FIXTURE["jsonl"] = d
    clean, _quar = split_corrupt(
        read_jsonl(spark, _SCAN_FIXTURE["jsonl"], "doc_id long, text string")
    )
    return clean


def _zarr_scan(spark, sf_dir: str):
    import tempfile

    from atlas_upscaling_dask_spark.sinks.ome_zarr import (
        scan_ome_zarr,
        write_ome_zarr,
    )
    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    if "zarr" not in _SCAN_FIXTURE:
        d = tempfile.mkdtemp(prefix="audit_zarr_") + "/vol.zarr"
        meta = VolumeMeta(16, 16, 16)
        write_ome_zarr(
            synthetic_chunks(spark, meta, chunk=(8, 8, 8)), d, meta
        )
        _SCAN_FIXTURE["zarr"] = d
    return scan_ome_zarr(spark, _SCAN_FIXTURE["zarr"], 0)


def _zarr_export(spark, sf_dir: str):
    # parquet-backed chunk fixture (not synthetic_chunks, whose grid
    # repartition would count against the writer's shuffle budget)
    import tempfile

    from atlas_upscaling_dask_spark.sinks.ome_zarr import export_ome_zarr_frame

    out = tempfile.mkdtemp(prefix="audit_zarr_out_") + "/vol.zarr"
    return export_ome_zarr_frame(_chunk_table(spark), out)


def _tiff_ordered_export(spark, sf_dir: str):
    # the exact frame export_tiff() iterates (writer.py export_ordered):
    # COO voxels under one global range-sort
    from atlas_upscaling_dask_spark.volume import chunks_to_voxels

    return chunks_to_voxels(_chunk_table(spark)).orderBy("z", "y", "x")


def _zarr3_scan(spark, sf_dir: str):
    import tempfile

    from atlas_upscaling_dask_spark.sinks.zarr3 import scan_zarr3, write_zarr3
    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    if "zarr3" not in _SCAN_FIXTURE:
        d = tempfile.mkdtemp(prefix="audit_zarr3_") + "/vol.zarr"
        meta = VolumeMeta(16, 16, 16)
        write_zarr3(
            synthetic_chunks(spark, meta, chunk=(8, 8, 8)), d, meta,
            shard=(2, 2, 2),
        )
        _SCAN_FIXTURE["zarr3"] = d
    return scan_zarr3(spark, _SCAN_FIXTURE["zarr3"], 0)


def _zarr3_export(spark, sf_dir: str):
    import tempfile

    from atlas_upscaling_dask_spark.sinks.zarr3 import export_zarr3_frame

    out = tempfile.mkdtemp(prefix="audit_zarr3_out_") + "/vol.zarr"
    return export_zarr3_frame(_chunk_table(spark), out, "zstd", 1, (2, 2, 2))


def _mhd_scan(spark, sf_dir: str):
    from atlas_upscaling_dask_spark.sources.mhd import read_mhd_chunks
    from atlas_upscaling_dask_spark.suite import _mhd_fixture

    chunks, _hdr = read_mhd_chunks(spark, _mhd_fixture(), chunk=(8, 8, 8))
    return chunks


def _tiff_scan(spark, sf_dir: str):
    from atlas_upscaling_dask_spark.sources.tiff import read_tiff_chunks
    from atlas_upscaling_dask_spark.suite import _tiff_fixture

    chunks, _info = read_tiff_chunks(spark, _tiff_fixture(), chunk=(8, 8, 8))
    return chunks


def _zarr3_update(spark, sf_dir: str):
    import tempfile

    from pyspark.sql import functions as F

    from atlas_upscaling_dask_spark.sinks.zarr3 import (
        _update_zarr3_plan,
        write_zarr3,
    )
    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    if "zarr3_upd" not in _SCAN_FIXTURE:
        d = tempfile.mkdtemp(prefix="audit_zarr3_upd_") + "/vol.zarr"
        meta = VolumeMeta(16, 16, 16)
        write_zarr3(
            synthetic_chunks(spark, meta, chunk=(8, 8, 8)), d, meta,
            shard=(2, 2, 2),
        )
        _SCAN_FIXTURE["zarr3_upd"] = d
    # the delta: one changed chunk from the parquet-backed table (the
    # plan is what's audited; the kernel never executes here)
    delta = _chunk_table(spark).filter(
        (F.col("cz") == 0) & (F.col("cy") == 0) & (F.col("cx") == 0)
    )
    return _update_zarr3_plan(delta, _SCAN_FIXTURE["zarr3_upd"], 0)


_BULK_FIXTURE: dict = {}


def _chunk_table(spark):
    """Parquet-backed 16³ chunk table, written once per process — plans
    built on it isolate the audited OPERATOR's exchanges."""
    import tempfile

    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    if "path" not in _BULK_FIXTURE:
        d = tempfile.mkdtemp(prefix="audit_chunks_")
        synthetic_chunks(spark, VolumeMeta(16, 16, 16), chunk=(8, 8, 8)).write.mode(
            "overwrite"
        ).parquet(d)
        _BULK_FIXTURE["path"] = d
    return spark.read.parquet(_BULK_FIXTURE["path"])


def _bulk(spark, op: str):
    """Apply a chunk-packed bulk kernel to a parquet-backed chunk table.

    The fixture is written once per process and read back, so the audited
    plan isolates the OPERATOR's exchanges (the synthetic generator's
    grid repartition would otherwise count against the budget)."""
    from atlas_upscaling_dask_spark.operators.outline import outline_chunks
    from atlas_upscaling_dask_spark.operators.pyramid import (
        decimate_chunks,
        downsample_mode_chunks,
    )
    from atlas_upscaling_dask_spark.operators.upscale import upscale_chunks

    chunks = _chunk_table(spark)
    if op == "point":
        from atlas_upscaling_dask_spark.operators.relational import (
            point_lookup_chunks,
        )

        return point_lookup_chunks(chunks, 4, 4, 4)
    if op == "split":
        from atlas_upscaling_dask_spark.volume import split_chunks

        return split_chunks(chunks, (2, 2, 2))
    if op == "merge":
        from atlas_upscaling_dask_spark.volume import merge_chunks

        return merge_chunks(chunks, (2, 2, 2))
    if op == "decimate":
        return decimate_chunks(chunks, 2)
    if op == "mode":
        return downsample_mode_chunks(chunks, 2)
    if op == "outline":
        return outline_chunks(chunks)
    return upscale_chunks(chunks, 2)


# Audited rows that are not suite queries: name -> (builder, rules).
# Builders take (spark, sf_dir).
FIXTURES = {
    # Q1 point query on a real parquet table: the filter must reach
    # the scan as PushedFilters so row-group stats prune I/O.
    "point_lookup_pushdown": (_point_lookup, {"pushdown": True}),
    # MinHash scale path: signature phase is narrow; whole pipeline
    # = spread repartition + band join (2 sides from one exchange
    # output) + pair agg.  Called with LIBRARY DEFAULTS on purpose:
    # the default backend must be the xxhash64 scale path, so this
    # entry also pins "no unpartitioned window / global sort" — a
    # dictionary dense_rank sneaking back into the default would
    # trip no_single_partition.
    "dedup_minhash_scale": (
        _minhash_scale,
        {"max_shuffles": 4, "no_python_udf": True, "no_single_partition": True},
    ),
    # chunk-packed decimation: per-chunk stride view — the bulk
    # pyramid step must cost ZERO exchanges at any volume size
    "decimate_chunks_bulk": (
        lambda spark, sf_dir: _bulk(spark, "decimate"),
        {"no_shuffle": True, "no_python_udf": True},
    ),
    # chunk-packed mode-downsample: chunk-aligned blocks — zero
    # exchanges, same contract as decimation
    "mode_chunks_bulk": (
        lambda spark, sf_dir: _bulk(spark, "mode"),
        {"no_shuffle": True, "no_python_udf": True},
    ),
    # chunk-packed outline: face halo exchange — exactly ONE hash
    # exchange (core ∪ faces on the chunk key); a second exchange
    # here would mean the whole volume moves twice at 100 TB
    "outline_chunks_bulk": (
        lambda spark, sf_dir: _bulk(spark, "outline"),
        {"max_shuffles": 1, "no_python_udf": True},
    ),
    # chunk-packed upscale from a stored volume: fully narrow
    "upscale_chunks_bulk": (
        lambda spark, sf_dir: _bulk(spark, "upscale"),
        {"no_shuffle": True, "no_python_udf": True},
    ),
    # binary point lookup on the packed store: range predicates
    # pushed to the scan, zero Python, zero shuffle — interactive
    # latency is a pruned single-row-group read at any volume size
    "point_lookup_chunks_binary": (
        lambda spark, sf_dir: _bulk(spark, "point"),
        {"pushdown": True, "no_shuffle": True, "no_python_udf": True, "codegen": True},
    ),
    # aligned rechunk, fine direction: pure per-row split — narrow
    "split_chunks_bulk": (
        lambda spark, sf_dir: _bulk(spark, "split"),
        {"no_shuffle": True, "no_python_udf": True},
    ),
    # aligned rechunk, coarse direction: ONE packed-payload shuffle
    # on the coarse chunk key (4 B/voxel, never the 28 B COO rows)
    "merge_chunks_bulk": (
        lambda spark, sf_dir: _bulk(spark, "merge"),
        {"max_shuffles": 1, "no_python_udf": True},
    ),
    # JSONL ingest: text scan + from_json + corrupt split must stay
    # a NARROW pipeline — zero exchanges, no row-UDFs; the split is
    # a filter, never a second scan or a shuffle
    "jsonl_clean_scan": (
        _jsonl_scan,
        {"no_shuffle": True, "codegen": True, "no_python_udf": True},
    ),
    # OME-Zarr scan: fully narrow — Range-derived grid (never
    # materialized), executor-side file probe + decode.  ANY
    # exchange would mean the grid or chunk payloads started moving.
    "zarr_scan": (
        _zarr_scan,
        {"no_shuffle": True, "no_python_udf": True},
    ),
    # OME-Zarr write kernel: select → mapInArrow publishing chunk
    # files executor-side — zero shuffle (its ≤ levels×partitions
    # receipt rows are collected and summed on the driver).
    "zarr_export": (
        _zarr_export,
        {"no_shuffle": True, "no_python_udf": True},
    ),
    # K6 ordered TIFF export: exactly ONE range-sort exchange feeds
    # the driver-side plane assembler; a second exchange would mean
    # the volume moved twice before streaming out.
    "tiff_ordered_export": (
        _tiff_ordered_export,
        {"max_shuffles": 1, "no_python_udf": True, "codegen": True},
    ),
    # Zarr v3 sharded scan: Range-derived shard grid, executor-side
    # index reads + inner-chunk decode — fully narrow.
    "zarr3_scan": (
        _zarr3_scan,
        {"no_shuffle": True, "no_python_udf": True},
    ),
    # Zarr v3 sharded export: exactly ONE hash exchange co-locating
    # each shard's chunks (that IS the shard grouping); more would
    # mean payloads moved twice.
    "zarr3_export_sharded": (
        _zarr3_export,
        {"max_shuffles": 1, "no_python_udf": True},
    ),
    # Zarr v3 incremental update: the newest write path (r6) — ONE
    # hash exchange on the shard key feeding the shard-merge
    # kernel; cost must track the DELTA, so a second exchange (or
    # any store-sized movement) is a violation.
    "zarr3_update": (
        _zarr3_update,
        {"max_shuffles": 1, "no_python_udf": True},
    ),
    # MHD raw-volume scan: one wave of z-contiguous range-read
    # tasks — r7 removed a grid hash-repartition that was this
    # path's only exchange; any shuffle reappearing is a violation.
    "mhd_scan": (
        _mhd_scan,
        {"no_shuffle": True, "no_python_udf": True},
    ),
    # TIFF strip/tile scan: same contract.
    "tiff_scan": (
        _tiff_scan,
        {"no_shuffle": True, "no_python_udf": True},
    ),
}


def audited_queries() -> dict:
    """name -> (builder, rules) for every audited row: each suite query
    registered with ``audit=`` rules, then the fixture rows."""
    from atlas_upscaling_dask_spark.suite import AUDITS, QUERIES

    return {**{n: (QUERIES[n], r) for n, r in AUDITS.items()}, **FIXTURES}


def main() -> int:
    # positional: sf_dir, then row names; each flag takes one value
    opts = {"--write-md": None, "--plans": None, "--tag": None}
    positional = []
    args = iter(sys.argv[1:])
    for a in args:
        if a.startswith("--"):
            if a not in opts or (value := next(args, None)) is None:
                raise SystemExit(f"unknown option or missing value: {a}")
            opts[a] = value
        else:
            positional.append(a)
    sf_dir = positional[0] if positional else "/root/testdata/sf0.001"
    names = positional[1:]
    write_md, plans_dir, tag = opts["--write-md"], opts["--plans"], opts["--tag"]

    from atlas_upscaling_dask_spark.session import get_spark
    from atlas_upscaling_dask_spark.suite import QUERIES

    rows = audited_queries()
    # --plans dumps any suite query or fixture, audited or not
    builders = {**QUERIES, **{n: b for n, (b, _) in FIXTURES.items()}}
    unknown = [n for n in names if n not in (builders if plans_dir else rows)]
    if unknown or (plans_dir and not names):
        raise SystemExit(f"unknown or missing row names: {unknown}")

    spark = get_spark("audit-plans")
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
        for name in names:
            path = os.path.join(plans_dir, f"{name}_{tag}.txt" if tag else f"{name}.txt")
            with open(path, "w") as fh:
                fh.write(plan_of(builders[name](spark, sf_dir)))
            print(f"wrote {path}")
        return 0

    sections = []
    for name in names or rows:
        builder, rules = rows[name]
        df = builder(spark, sf_dir)
        plan = plan_of(df)
        errs = audit(df, rules, plan)
        status = "OK" if not errs else "VIOLATION"
        print(f"{status} {name}: shuffles={count_shuffles(plan)} rules={rules}")
        for e in errs:
            print(f"    - {e}")
        sections.append((name, rules, plan, errs))
    failures = sum(1 for *_, errs in sections if errs)
    print(f"{len(sections) - failures}/{len(sections)} OK")

    if write_md:
        with open(write_md, "w") as f:
            f.write(
                "# PLANS — audited physical plans\n\n"
                "Generated by `tools/audit_plans.py` (run it to regenerate; "
                "it exits non-zero if any scale invariant is violated).\n"
            )
            for name, rules, plan, errs in sections:
                f.write(f"\n## {name}\n\nInvariants: `{rules}`")
                f.write(" — **VIOLATED**\n" if errs else " — all hold\n")
                f.write("\n```\n" + plan.strip()[:4000] + "\n```\n")
        print(f"wrote {write_md}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
