"""V1–V3 — verification / QA operators.

The reference checks a single golden point after upscaling
(``verify_labels.py:18-24``: orig(100,200,200) == up(200,400,400) ==
15857).  We generalize the point check to a *full* distributed proof:
zero mismatches over every source voxel — an anti-join-style mismatch
count that Catalyst executes as a sort-merge join at scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upscale_mismatches(orig: DataFrame, up: DataFrame, scale: int) -> DataFrame:
    """V1 — rows where ``up[s*z, s*y, s*x] != orig[z,y,x]``.

    Empty result == the invariant of ``verify_labels.py:18-24`` holds
    everywhere.  Also catches *missing* scaled coordinates via the left
    join (null up_label counts as a mismatch).
    """
    s = F.lit(scale)
    up_sel = up.select(
        F.col("z").alias("uz"),
        F.col("y").alias("uy"),
        F.col("x").alias("ux"),
        F.col("label").alias("up_label"),
    )
    joined = orig.join(
        up_sel,
        (up_sel.uz == orig.z * s) & (up_sel.uy == orig.y * s) & (up_sel.ux == orig.x * s),
        "left",
    )
    return joined.filter(
        F.col("up_label").isNull() | (F.col("up_label") != F.col("label"))
    ).select("z", "y", "x", "label", "up_label")


def label_sets_equal(a: DataFrame, b: DataFrame) -> bool:
    """The no-interpolation contract (reference README.md:21,32):
    distinct label sets identical before/after a label-preserving op."""
    da, db = a.select("label").distinct(), b.select("label").distinct()
    return da.exceptAll(db).isEmpty() and db.exceptAll(da).isEmpty()


def volume_extents(voxels: DataFrame) -> DataFrame:
    """V3 — smoke check: coordinate extents + voxel count
    (shape/dtype/sample of load_test.py:7-9, relationally)."""
    return voxels.agg(
        (F.max("z") + 1).alias("dim_z"),
        (F.max("y") + 1).alias("dim_y"),
        (F.max("x") + 1).alias("dim_x"),
        F.count("*").alias("n_voxels"),
        F.countDistinct("label").alias("n_labels"),
    )


def histogram_chunks(chunks: DataFrame) -> DataFrame:
    """Label histogram on the chunk-packed path: per-chunk
    ``np.unique(..., return_counts)`` inside ``mapInArrow``, then ONE
    aggregation over (label, count) partials.

    The COO version explodes every voxel into a 28 B row before the
    groupBy; here the exchange carries only each chunk's DISTINCT
    labels (an annotation chunk holds a handful of regions), so a
    100 TB histogram shuffles megabytes.  Map-side partials compound
    the win: Spark pre-merges per-partition before the exchange.
    """
    import pyarrow as pa

    from ..volume import _decode_block

    def kernel(batches):
        for batch in batches:
            d = batch.to_pydict()
            labels, counts = [], []
            for i in range(len(d["cz"])):
                block = _decode_block(
                    d["payload"][i], d["codec"][i], (d["dz"][i], d["dy"][i], d["dx"][i])
                )
                u, c = np.unique(block, return_counts=True)
                labels.append(u.astype(np.int64))
                counts.append(c.astype(np.int64))
            if labels:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(labels), type=pa.int64()),
                        pa.array(np.concatenate(counts), type=pa.int64()),
                    ],
                    ["label", "n"],
                )

    partials = chunks.mapInArrow(kernel, schema="label long, n long")
    return partials.groupBy("label").agg(F.sum("n").alias("n_voxels"))


def volume_extents_chunks(chunks: DataFrame) -> DataFrame:
    """V3 smoke on the chunk-packed path: dims and voxel count come from
    chunk METADATA only (column pruning keeps payload bytes unread);
    the distinct-label count rides the histogram partials.  At 100 TB
    the metadata half of this check reads kilobytes."""
    dims = chunks.agg(
        F.max(F.col("z0") + F.col("dz")).alias("dim_z"),
        F.max(F.col("y0") + F.col("dy")).alias("dim_y"),
        F.max(F.col("x0") + F.col("dx")).alias("dim_x"),
        F.sum(
            F.col("dz").cast("long") * F.col("dy") * F.col("dx")
        ).alias("n_voxels"),
    )
    nl = histogram_chunks(chunks).agg(F.count("*").alias("n_labels"))
    return dims.crossJoin(nl)


def upscale_mismatches_chunked(
    orig_chunks: DataFrame, up_chunks: DataFrame, scale: int
) -> DataFrame:
    """Bulk V1 — verify ``up == repeat(orig, s)`` payload-by-payload on
    the chunk-packed path.

    The COO proof (``upscale_mismatches``) explodes both volumes to
    coordinate rows — s³·N join rows at scale ((2.6e11 at the
    reference's ×15 run, SURVEY §7.3).  Here the join key is the CHUNK
    grid coordinate (``upscale_chunks`` preserves it, scaling only
    origins/extents), so the shuffle moves one row per chunk, and the
    voxel-level equality runs as a vectorized ``np.array_equal`` against
    a broadcast view — no s³ materialization, no COO blow-up.  Store
    both volumes bucketed on the chunk key (sinks/bucketed.py) and even
    that per-chunk shuffle disappears.

    Returns per-chunk mismatch rows (empty == invariant holds):
    (cz, cy, cx, n_mismatch, missing).
    """
    import pyarrow as pa

    from ..volume import _decode_block

    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")

    o = orig_chunks.select(
        "cz", "cy", "cx",
        F.col("dz").alias("o_dz"), F.col("dy").alias("o_dy"), F.col("dx").alias("o_dx"),
        F.col("payload").alias("o_payload"), F.col("codec").alias("o_codec"),
    )
    u = up_chunks.select(
        "cz", "cy", "cx",
        F.col("dz").alias("u_dz"), F.col("dy").alias("u_dy"), F.col("dx").alias("u_dx"),
        F.col("payload").alias("u_payload"), F.col("codec").alias("u_codec"),
    )
    joined = o.join(u, ["cz", "cy", "cx"], "full_outer")

    out_schema = (
        "cz int, cy int, cx int, n_mismatch long, missing boolean"
    )

    arrow_schema = pa.schema(
        [
            ("cz", pa.int32()),
            ("cy", pa.int32()),
            ("cx", pa.int32()),
            ("n_mismatch", pa.int64()),
            ("missing", pa.bool_()),
        ]
    )

    def kernel(batches):
        for batch in batches:
            d = batch.to_pydict()
            rows = {"cz": [], "cy": [], "cx": [], "n_mismatch": [], "missing": []}
            for i in range(len(d["cz"])):
                if d["o_payload"][i] is None or d["u_payload"][i] is None:
                    rows["cz"].append(d["cz"][i])
                    rows["cy"].append(d["cy"][i])
                    rows["cx"].append(d["cx"][i])
                    rows["n_mismatch"].append(0)
                    rows["missing"].append(True)
                    continue
                dz, dy, dx = d["o_dz"][i], d["o_dy"][i], d["o_dx"][i]
                block = _decode_block(d["o_payload"][i], d["o_codec"][i], (dz, dy, dx))
                up = _decode_block(
                    d["u_payload"][i],
                    d["u_codec"][i],
                    (d["u_dz"][i], d["u_dy"][i], d["u_dx"][i]),
                )
                if up.shape != (dz * scale, dy * scale, dx * scale):
                    n_bad = int(up.size)
                else:
                    # broadcast view: compare without materializing s³ copy
                    expect = np.broadcast_to(
                        block[:, None, :, None, :, None],
                        (dz, scale, dy, scale, dx, scale),
                    ).reshape(dz * scale, dy * scale, dx * scale)
                    n_bad = int(np.count_nonzero(up != expect))
                if n_bad:
                    rows["cz"].append(d["cz"][i])
                    rows["cy"].append(d["cy"][i])
                    rows["cx"].append(d["cx"][i])
                    rows["n_mismatch"].append(n_bad)
                    rows["missing"].append(False)
            yield pa.RecordBatch.from_pydict(rows, schema=arrow_schema)

    return joined.mapInArrow(kernel, schema=out_schema)
