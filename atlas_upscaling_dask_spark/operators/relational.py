"""Q1–Q8 — the reference's relational query surface, Spark-native.

The reference's only true relational table is the 2,692-row region
ontology CSV (``lookup_test.py:11``; schema in Screenshots/
lookup_test.png: Region, RegionAbbr, RegionName, Level, Parent).
Queries over it: point lookup (``load_test.py:9``), equality filter
(``lookup_by_id.py:31``), voxel→region dimension join with explicit
missing-key handling (``lookup_test2.py:21-29`` — "Unknown region ID"),
projection, hierarchy access via the Parent self-FK, head/count
(``lookup_test.py:13-14``).

Design: the dim table is always broadcast (it is tiny); the voxel→region
join is therefore a broadcast hash join with zero shuffle on the fact
side — the property that keeps Q4 viable when the fact side is 100 TB.
Missing keys make it a LEFT OUTER join with ``coalesce(name,
'Unknown')`` (lookup_by_id.py:32-33).
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

REGION_SCHEMA = T.StructType(
    [
        T.StructField("region", T.LongType(), False),
        T.StructField("region_abbr", T.StringType(), True),
        T.StructField("region_name", T.StringType(), True),
        T.StructField("level", T.IntegerType(), True),
        T.StructField("parent", T.LongType(), True),
    ]
)


def load_regions_csv(spark: SparkSession, path: str) -> DataFrame:
    """S5 — region-ontology CSV scan with an explicit schema.

    ``pd.read_csv`` + header inference in the reference
    (lookup_test.py:11); here an explicit schema (no inference in prod)
    and the frame is small enough that every join marks it broadcast.
    """
    return spark.read.csv(path, header=True, schema=REGION_SCHEMA)


def synthetic_regions(spark: SparkSession) -> DataFrame:
    """Deterministic ontology fixture (FIXTURES.md §2).

    1 root (15500, level -1, parent 0), 4 mid nodes (156xx, level 0),
    64 leaves matching the voxel cube's labels (level 1, parent by
    ``region mod 4``), plus 10 extra leaves absent from the volume —
    the adjacency-list hierarchy shape of the real CSV
    (Screenshots/lookup_test.png; e.g. 15564 mouse → neural plate →
    forebrain chain with Level -1,0,1,...).
    """
    root = spark.createDataFrame(
        [(15500, "ROOT", "mouse", -1, 0)], schema=REGION_SCHEMA
    )
    mids = spark.createDataFrame(
        [(15540 + i, f"M{i}", f"mid node {i}", 0, 15500) for i in range(4)],
        schema=REGION_SCHEMA,
    )
    leaves = spark.range(15564, 15564 + 64 + 10).select(
        F.col("id").alias("region"),
        F.concat(F.lit("R"), F.col("id")).alias("region_abbr"),
        F.concat(F.lit("region "), F.col("id")).alias("region_name"),
        F.lit(1).alias("level"),
        (F.lit(15540) + F.pmod(F.col("id"), F.lit(4))).alias("parent"),
    )
    return root.unionByName(mids).unionByName(leaves.select(*REGION_SCHEMA.names))


def _ints(*values) -> list[int]:
    """``values`` as Python ints via ``operator.index``: numpy integers
    pass, while floats, strings and None raise ``TypeError`` before any
    job runs.  The lookups below interpolate only these ints into their
    SQL text, so the text cannot be injected into, and a fractional
    coordinate can never truncate silently to a neighbouring voxel."""
    return [operator.index(v) for v in values]


def point_lookup(voxels: DataFrame, z: int, y: int, x: int) -> DataFrame:
    """Q1 — ``arr[z,y,x] -> label`` (load_test.py:9).

    A conjunctive equality filter; on a chunk-key-partitioned store the
    scan partition-prunes via parquet min/max stats, giving the
    reference's interactive latency at any scale.

    Every lookup here builds its plan from SQL text — one JVM parse per
    DataFrame step instead of one py4j round trip per Column node
    (SCALE.md, relational family).
    """
    z, y, x = _ints(z, y, x)
    return voxels.filter(f"z = {z} AND y = {y} AND x = {x}")


def point_lookup_chunks(chunks: DataFrame, z: int, y: int, x: int) -> DataFrame:
    """Q1 directly on the chunk-packed store — ZERO payload decode,
    zero Python: the containing chunk is found by range predicates on
    the metadata columns, and the single voxel is extracted from the
    raw C-order payload with SQL byte arithmetic (``substring``+``hex``+
    ``conv`` on the four little-endian bytes at
    ``((z−z0)·dy·dx + (y−y0)·dx + (x−x0))·4``).

    What prunes: only the lower bounds ``z0/y0/x0 <= (z, y, x)`` and
    ``codec = 'raw'`` reach the scan's ``PushedFilters``, so parquet
    min/max stats skip the row groups that start past the point.  The
    upper bounds (``z0 + dz``) are arithmetic and filter rows after the
    read, and nothing here names the ``cz`` partition column, so every
    partition directory is listed and scanned (``PartitionFilters:
    []``).  A caller that knows the chunk grid can add a ``cz`` filter to
    prune directories too.  Requires ``codec='raw'`` rows (compressed
    chunks must decode; use the COO path for those).
    """
    z, y, x = _ints(z, y, x)
    hit = chunks.filter(
        f"z0 <= {z} AND {z} < z0 + dz AND y0 <= {y} AND {y} < y0 + dy"
        f" AND x0 <= {x} AND {x} < x0 + dx AND codec = 'raw'"
    )
    # substring is 1-based
    off = f"(({z} - z0) * dy * dx + ({y} - y0) * dx + ({x} - x0)) * 4 + 1"
    label = " + ".join(
        f"CAST(conv(hex(substring(payload, __off + {i}, 1)), 16, 10) AS BIGINT)"
        f" * {256**i}"
        for i in range(4)
    )
    return hit.selectExpr("payload", f"CAST({off} AS INT) AS __off").selectExpr(
        f"CAST({z} AS BIGINT) AS z",
        f"CAST({y} AS BIGINT) AS y",
        f"CAST({x} AS BIGINT) AS x",
        f"{label} AS label",
    )


def region_filter(regions: DataFrame, region_id: int) -> DataFrame:
    """Q2 — equality filter on the dim table (lookup_by_id.py:31)."""
    region_id = operator.index(region_id)
    return regions.filter(f"region = {region_id}")


def decode_labels(voxels: DataFrame, regions: DataFrame) -> DataFrame:
    """Q4+Q3+Q5 — voxel→region dimension join (label decode).

    ``lookup_test2.py:21-29``: voxel value is the join key; missing keys
    yield "Unknown region ID" (lookup_by_id.py:32-33) → LEFT OUTER +
    coalesce.  Broadcast hash join: the dim is 2,692 rows in the
    reference; the fact side never shuffles.  The dim is coalesced to
    one partition first, so building the broadcast is one task however
    many partitions (or unioned pieces) the dim frame has.
    """
    return voxels.join(
        F.broadcast(regions.coalesce(1)), F.expr("label = region"), "left"
    ).selectExpr(
        "z",
        "y",
        "x",
        "label",
        "coalesce(region_name, 'Unknown') AS region_name",
        "coalesce(region_abbr, '?') AS region_abbr",
        "level",
    )


def lookup_region_at(
    voxels: DataFrame, regions: DataFrame, z: int, y: int, x: int
) -> DataFrame:
    """The composed interactive query of ``lookup_test2.py:21-29``:
    point lookup, then label decode (golden: (100,200,200) → 15857 →
    'putamen')."""
    return decode_labels(point_lookup(voxels, z, y, x), regions)


def parent_join(regions: DataFrame) -> DataFrame:
    """Q6 — one-level hierarchy access: child joined to its parent row.

    ``regions r JOIN regions p ON r.parent = p.region`` (the adjacency
    list exposed by the Parent column, Screenshots/lookup_test.png).
    """
    p = regions.selectExpr(
        "region AS p_region", "region_name AS parent_name", "level AS parent_level"
    )
    return regions.join(F.broadcast(p), F.expr("parent = p_region"), "left").select(
        "region", "region_name", "level", "parent", "parent_name", "parent_level"
    )


def ancestor_closure(regions: DataFrame, max_depth: int = 16) -> DataFrame:
    """Q6 — transitive ancestor closure by iterative self-join.

    Spark has no recursive CTE; the ontology is shallow (Level ≤ ~13 in
    the real CSV), so a bounded driver loop of broadcast self-joins is
    both correct and cheap (SURVEY.md §7.3).  Returns
    (region, ancestor, depth) with depth ≥ 1.
    """
    edges = regions.selectExpr("region", "parent AS ancestor", "1 AS depth").filter(
        "ancestor IS NOT NULL AND ancestor != 0"
    )
    frontier = edges
    closure = edges
    parent_edge = F.broadcast(
        regions.selectExpr("region AS e_child", "parent AS e_parent").filter(
            "e_parent IS NOT NULL AND e_parent != 0"
        )
    )
    step = F.expr("ancestor = e_child")
    for _ in range(max_depth):
        nxt = frontier.join(parent_edge, step, "inner").selectExpr(
            "region", "e_parent AS ancestor", "depth + 1 AS depth"
        )
        if nxt.isEmpty():
            break
        closure = closure.unionByName(nxt)
        frontier = nxt
    return closure


def head_and_count(df: DataFrame, n: int = 5) -> tuple[list, int]:
    """Q7 — ``df.head()`` + ``len(df)`` (lookup_test.py:13-14)."""
    return df.limit(n).collect(), df.count()
