"""The oracle-checked query suite — the driver's correctness contract.

Every entry pairs a PySpark builder ``(spark, sf_dir) -> DataFrame``
with an equivalent ANSI SQL string DuckDB runs on the same parquet
tables.  The driver hash-compares unordered results at sf0.01
(``__spark_entry__.py`` contract), so:

* every computed column is aliased identically on both sides;
* double-typed aggregates are summed via DECIMAL casts (exact,
  order-independent) and cast back to DOUBLE at the end — a plain
  double sum is order-dependent and would hash-mismatch between
  engines;
* timestamps are projected as epoch seconds (BIGINT) where they appear
  in results, sidestepping timezone/format drift.

Volume-semantics queries (`vox_*`) generate the FIXTURES.md §1 cube
deterministically *inside both engines* (range cross-products), so the
reference's actual operator semantics (upscale/outline/pyramid/decode)
are oracle-checked end-to-end, not just analogized onto TPC-H tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import relational as R
from .operators import outline as O
from .operators import pyramid as P
from .operators import upscale as U
from .operators import verify as V
from .tables import load_table
from .volume import FIXTURE_META, synthetic_voxels

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect, ANSI-compatible subset)
# ---------------------------------------------------------------------------

# FIXTURES.md §1 cube — identical generation rule as volume.synthetic_voxels.
VOX_CTE = """
voxels AS (
  SELECT t1.range AS z, t2.range AS y, t3.range AS x,
         15564 + (t1.range // 4) * 16 + (t2.range // 4) * 4 + (t3.range // 4) AS label
  FROM range(16) t1, range(16) t2, range(16) t3
)
"""

# FIXTURES.md §2 ontology — identical rule as relational.synthetic_regions.
REGIONS_CTE = """
regions AS (
  SELECT CAST(15500 AS BIGINT) AS region, 'ROOT' AS region_abbr, 'mouse' AS region_name,
         CAST(-1 AS INTEGER) AS level, CAST(0 AS BIGINT) AS parent
  UNION ALL
  SELECT CAST(15540 + i.range AS BIGINT), 'M' || i.range, 'mid node ' || i.range,
         CAST(0 AS INTEGER), CAST(15500 AS BIGINT)
  FROM range(4) i
  UNION ALL
  SELECT CAST(j.range AS BIGINT), 'R' || j.range, 'region ' || j.range,
         CAST(1 AS INTEGER), CAST(15540 + (j.range % 4) AS BIGINT)
  FROM range(15564, 15638) j
)
"""


QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# name -> physical-plan scale invariants, checked by tools/audit_plans.py
# (rule keys are documented there); the comment above each ``audit=``
# says why the plan must have that shape.
AUDITS: dict[str, dict] = {}


def _register(
    name: str, fn: QueryFn, sql: str | None, audit: dict | None = None
) -> None:
    QUERIES[name] = fn
    if sql is not None:
        ORACLES[name] = sql
    if audit is not None:
        AUDITS[name] = audit


# ---------------------------------------------------------------------------
# vox_* — reference volume semantics, oracle-checked end-to-end
# ---------------------------------------------------------------------------


def _vox_upscale2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return U.upscale_coo(synthetic_voxels(spark), 2)


_register(
    "vox_upscale2",
    _vox_upscale2,
    f"""
WITH {VOX_CTE}
SELECT v.z * 2 + a.range AS z, v.y * 2 + b.range AS y, v.x * 2 + c.range AS x, v.label
FROM voxels v, range(2) a, range(2) b, range(2) c
""",
)


def _vox_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.decimate(synthetic_voxels(spark), 2)


_register(
    "vox_decimate",
    _vox_decimate,
    f"""
WITH {VOX_CTE}
SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, label
FROM voxels WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
""",
)


def _vox_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.build_pyramid(synthetic_voxels(spark), levels=3, cache_base=False)


_register(
    "vox_pyramid",
    _vox_pyramid,
    f"""
WITH {VOX_CTE}
SELECT z, y, x, label, 0 AS level FROM voxels
UNION ALL
SELECT z // 2, y // 2, x // 2, label, 1 AS level
FROM voxels WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
UNION ALL
SELECT z // 4, y // 4, x // 4, label, 2 AS level
FROM voxels WHERE z % 4 = 0 AND y % 4 = 0 AND x % 4 = 0
""",
)


def _vox_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return O.outline_window(synthetic_voxels(spark), wrap=False)


_OUTLINE_SQL = """
WITH {vox},
nb AS (
  SELECT z, y, x, label,
         coalesce(lag(label)  OVER (PARTITION BY z, y ORDER BY x), label) AS xp,
         coalesce(lead(label) OVER (PARTITION BY z, y ORDER BY x), label) AS xn,
         coalesce(lag(label)  OVER (PARTITION BY z, x ORDER BY y), label) AS yp,
         coalesce(lead(label) OVER (PARTITION BY z, x ORDER BY y), label) AS yn,
         coalesce(lag(label)  OVER (PARTITION BY y, x ORDER BY z), label) AS zp,
         coalesce(lead(label) OVER (PARTITION BY y, x ORDER BY z), label) AS zn
  FROM voxels
)
SELECT z, y, x,
       CASE WHEN label != xp OR label != xn OR label != yp OR label != yn
                 OR label != zp OR label != zn THEN label ELSE 0 END AS label
FROM nb
"""

_register("vox_outline", _vox_outline, _OUTLINE_SQL.format(vox=VOX_CTE.strip()))


def _vox_outline_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return O.outline_window(synthetic_voxels(spark), wrap=True)


# wrap=True reproduces the reference's da.roll torus semantics
# (upscale_streaming_enhance.py:107-119): out-of-range neighbors read the
# opposite face — first/last value over the full scanline.
_OUTLINE_WRAP_SQL = """
WITH {vox},
nb AS (
  SELECT z, y, x, label,
         coalesce(lag(label)  OVER (PARTITION BY z, y ORDER BY x),
                  last_value(label) OVER (PARTITION BY z, y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS xp,
         coalesce(lead(label) OVER (PARTITION BY z, y ORDER BY x),
                  first_value(label) OVER (PARTITION BY z, y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS xn,
         coalesce(lag(label)  OVER (PARTITION BY z, x ORDER BY y),
                  last_value(label) OVER (PARTITION BY z, x ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS yp,
         coalesce(lead(label) OVER (PARTITION BY z, x ORDER BY y),
                  first_value(label) OVER (PARTITION BY z, x ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS yn,
         coalesce(lag(label)  OVER (PARTITION BY y, x ORDER BY z),
                  last_value(label) OVER (PARTITION BY y, x ORDER BY z
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS zp,
         coalesce(lead(label) OVER (PARTITION BY y, x ORDER BY z),
                  first_value(label) OVER (PARTITION BY y, x ORDER BY z
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS zn
  FROM voxels
)
SELECT z, y, x,
       CASE WHEN label != xp OR label != xn OR label != yp OR label != yn
                 OR label != zp OR label != zn THEN label ELSE 0 END AS label
FROM nb
"""

_register("vox_outline_wrap", _vox_outline_wrap, _OUTLINE_WRAP_SQL.format(vox=VOX_CTE.strip()))


def _vox_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.decode_labels(synthetic_voxels(spark), R.synthetic_regions(spark))


_register(
    "vox_decode",
    _vox_decode,
    f"""
WITH {VOX_CTE}, {REGIONS_CTE}
SELECT v.z, v.y, v.x, v.label,
       coalesce(r.region_name, 'Unknown') AS region_name,
       coalesce(r.region_abbr, '?') AS region_abbr,
       r.level
FROM voxels v LEFT JOIN regions r ON v.label = r.region
""",
)


def _vox_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Golden point style of lookup_test2.py:31-32 ((100,200,200)→15857→name),
    # shrunk to the fixture cube: (4,4,4) → 15585 → 'region 15585'.
    return R.lookup_region_at(
        synthetic_voxels(spark), R.synthetic_regions(spark), 4, 4, 4
    )


_register(
    "vox_point_lookup",
    _vox_point_lookup,
    f"""
WITH {VOX_CTE}, {REGIONS_CTE}
SELECT v.z, v.y, v.x, v.label,
       coalesce(r.region_name, 'Unknown') AS region_name,
       coalesce(r.region_abbr, '?') AS region_abbr,
       r.level
FROM voxels v LEFT JOIN regions r ON v.label = r.region
WHERE v.z = 4 AND v.y = 4 AND v.x = 4
""",
)


def _vox_verify_upscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    vox = synthetic_voxels(spark)
    return V.upscale_mismatches(vox, U.upscale_coo(vox, 2), 2)


_register(
    "vox_verify_upscale",
    _vox_verify_upscale,
    f"""
WITH {VOX_CTE},
up AS (
  SELECT v.z * 2 + a.range AS z, v.y * 2 + b.range AS y, v.x * 2 + c.range AS x, v.label
  FROM voxels v, range(2) a, range(2) b, range(2) c
)
SELECT v.z, v.y, v.x, v.label, u.label AS up_label
FROM voxels v LEFT JOIN up u ON u.z = v.z * 2 AND u.y = v.y * 2 AND u.x = v.x * 2
WHERE u.label IS NULL OR u.label != v.label
""",
)


def _vox_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return V.volume_extents(synthetic_voxels(spark))


_register(
    "vox_extents",
    _vox_extents,
    f"""
WITH {VOX_CTE}
SELECT max(z) + 1 AS dim_z, max(y) + 1 AS dim_y, max(x) + 1 AS dim_x,
       count(*) AS n_voxels, count(DISTINCT label) AS n_labels
FROM voxels
""",
)


def _vox_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Region-volume histogram (SURVEY §2.8; README.md:11-12 figures).
    return (
        synthetic_voxels(spark)
        .groupBy("label")
        .agg(F.count("*").alias("n_voxels"))
    )


_register(
    "vox_histogram",
    _vox_histogram,
    f"""
WITH {VOX_CTE}
SELECT label, count(*) AS n_voxels FROM voxels GROUP BY label
""",
)


def _vox_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.parent_join(R.synthetic_regions(spark))


_register(
    "vox_hierarchy",
    _vox_hierarchy,
    f"""
WITH {REGIONS_CTE}
SELECT r.region, r.region_name, r.level, r.parent,
       p.region_name AS parent_name, p.level AS parent_level
FROM regions r LEFT JOIN regions p ON r.parent = p.region
""",
)


def _vox_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.ancestor_closure(R.synthetic_regions(spark))


_register(
    "vox_closure",
    _vox_closure,
    f"""
WITH RECURSIVE {REGIONS_CTE},
closure AS (
  SELECT region, parent AS ancestor, 1 AS depth FROM regions
  WHERE parent IS NOT NULL AND parent != 0
  UNION ALL
  SELECT c.region, r.parent AS ancestor, c.depth + 1
  FROM closure c JOIN regions r ON c.ancestor = r.region
  WHERE r.parent IS NOT NULL AND r.parent != 0
)
SELECT region, ancestor, depth FROM closure
""",
)


def _vox_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T2 — non-integer floor resize 16³ → 24³ (anno_upsampling.py:60-67).
    return U.resize_floor(synthetic_voxels(spark), (16, 16, 16), (24, 24, 24))


_register(
    "vox_resize",
    _vox_resize,
    f"""
WITH {VOX_CTE},
grid AS (
  SELECT t1.range AS tz, t2.range AS ty, t3.range AS tx,
         (t1.range * 16) // 24 AS sz_, (t2.range * 16) // 24 AS sy_, (t3.range * 16) // 24 AS sx_
  FROM range(24) t1, range(24) t2, range(24) t3
)
SELECT g.tz AS z, g.ty AS y, g.tx AS x, v.label
FROM grid g JOIN voxels v ON g.sz_ = v.z AND g.sy_ = v.y AND g.sx_ = v.x
""",
)


def _vox_rotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return U.rotate90(synthetic_voxels(spark), axes=("z", "y"))


_register(
    "vox_rotate",
    _vox_rotate,
    f"""
WITH {VOX_CTE}
SELECT y AS z, z AS y, x, label FROM voxels
""",
)


# ---------------------------------------------------------------------------
# Relational surface on the TPC-H-ish testdata (FIXTURES.md §6 mapping).
#
# Double-valued aggregates go through DECIMAL(18,2) casts (exact, order-
# independent) and back to DOUBLE; timestamps project as epoch
# microseconds (unix_micros ↔ epoch_us) — see module docstring.
# ---------------------------------------------------------------------------


def _dim_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q2+Q5 on testdata: equality filter on a dim + projection
    # (lookup_by_id.py:31,35-38).
    return (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") == 7)
        .select("n_name", "n_regionkey")
    )


_register(
    "dim_filter_project",
    _dim_filter_project,
    "SELECT n_name, n_regionkey FROM nation WHERE n_nationkey = 7",
)


def _dim_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q4 on testdata: fact LEFT JOIN broadcast dim, unknown-key handling
    # (lookup_test2.py:21-29; lookup_by_id.py:32-33).
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.coalesce(F.col("p_name"), F.lit("Unknown")).alias("part_name"),
        F.coalesce(F.col("p_brand"), F.lit("?")).alias("part_brand"),
    )


_register(
    "dim_join_left",
    _dim_join_left,
    """
SELECT l_orderkey, l_linenumber, l_partkey,
       coalesce(p_name, 'Unknown') AS part_name,
       coalesce(p_brand, '?') AS part_brand
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
""",
    # broadcast dim join: no shuffled join for a 25-row dim
    audit={"broadcast": True, "codegen": True, "max_shuffles": 0},
)


def _hierarchy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q6 on testdata: dimension hierarchy via self-FK-style join.
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner"
    ).select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))


_register(
    "hierarchy_join",
    _hierarchy_join,
    """
SELECT n_nationkey, n_name, r_name AS region_name
FROM nation JOIN region ON n_regionkey = r_regionkey
""",
)


def _tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q1-style pricing summary (SURVEY §2.8 aggregation surface).
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(
                dec("l_extendedprice") * (1 - dec("l_discount")) * (1 + dec("l_tax"))
            )
            .cast("double")
            .alias("sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


_register(
    "tpch_q1_pricing",
    _tpch_q1_pricing,
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    # TPC-H Q1-style agg: exactly one exchange (partial→final agg)
    audit={"max_shuffles": 1, "pushdown": True, "codegen": True},
)


def _topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Top-k = orderBy.limit with a deterministic tiebreak (SURVEY §2.8).
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_register(
    "topk_orders",
    _topk_orders,
    """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
)


def _distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count("*").alias("n_rows"),
    )


_register(
    "distinct_agg",
    _distinct_agg,
    """
SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
       count(DISTINCT l_orderkey) AS n_orders, count(*) AS n_rows
FROM lineitem
""",
)


def _rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


_register(
    "rollup_counts",
    _rollup_counts,
    "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
)


def _cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


_register(
    "cube_counts",
    _cube_counts,
    "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)",
)


def _pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pivot → conditional aggregation (oracle side spells it out).
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F"])
    )


_register(
    "pivot_returnflag",
    _pivot_returnflag,
    """
SELECT l_returnflag,
       count(*) FILTER (WHERE l_linestatus = 'O') AS "O",
       count(*) FILTER (WHERE l_linestatus = 'F') AS "F"
FROM lineitem GROUP BY l_returnflag
""",
)


# ---------------------------------------------------------------------------
# Window / event-time surface on `events` and `orders` (SURVEY §2.8 gaps
# built out: windows, set ops, as-of join, sessionization, scalar fns).
# ---------------------------------------------------------------------------


def _window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Running aggregate per key with a fully deterministic frame order —
    # both engines add in the same order, so doubles match bitwise
    # (l_quantity is integral anyway).  The synthetic lineitem is NOT
    # keyed by (l_orderkey, l_linenumber) — sf0.1 contains duplicate
    # pairs — so the order extends through quantity/price/partkey: rows
    # still tied after that are identical in every projected column and
    # their two prefix values form the same multiset either way.
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_partkey",
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(w).alias("running_qty"),
    )


_register(
    "window_running_sum",
    _window_running_sum,
    """
SELECT l_suppkey, l_orderkey, l_linenumber,
       sum(l_quantity) OVER (PARTITION BY l_suppkey
                             ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                      l_quantity, l_extendedprice, l_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
FROM lineitem
""",
)


def _window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Top-3 parts per brand by retail price — ranking window + filter.
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")
    )


_register(
    "window_rank_topk",
    _window_rank_topk,
    """
SELECT p_brand, p_partkey, p_retailprice, CAST(rk AS INTEGER) AS rk FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
  FROM part
) WHERE rk <= 3
""",
)


def _event_neighbor_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T4's neighbor-difference semantics on an event stream: flag events
    # whose event_type differs from either temporal neighbor within the
    # user's timeline (the lag/lead form of outline_window).
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lab = F.col("event_type")
    prev = F.coalesce(F.lag("event_type").over(w), lab)
    nxt = F.coalesce(F.lead("event_type").over(w), lab)
    return ev.select(
        "event_id",
        "user_id",
        F.when((lab != prev) | (lab != nxt), lab).otherwise(F.lit("")).alias("boundary_type"),
    )


_register(
    "event_neighbor_diff",
    _event_neighbor_diff,
    """
SELECT event_id, user_id,
       CASE WHEN event_type != coalesce(lag(event_type) OVER w, event_type)
              OR event_type != coalesce(lead(event_type) OVER w, event_type)
            THEN event_type ELSE '' END AS boundary_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)


def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sessionization: a new session starts after a >30 min gap per user
    # (lag + cumulative sum of boundary flags — the batch form; the
    # streaming module uses session_window for the same semantics).
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .withColumn(
            "session_idx",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select("event_id", "user_id", "session_idx")
    )


_register(
    "sessionize",
    _sessionize,
    """
WITH g AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
FROM g
""",
)


def _asof_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # As-of join: each event matched to the user's most recent order at
    # or before the event time (operators/asof.py union+window strategy;
    # oracle uses DuckDB's native ASOF JOIN).
    from .operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    joined = asof_join(
        ev,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey"],
    )
    return joined.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "o_orderkey"
    )


_register(
    "asof_events_orders",
    _asof_events_orders,
    """
WITH o AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, o.o_orderkey
FROM events e ASOF LEFT JOIN o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
""",
)


def _time_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tumbling event-time window aggregation (the batch twin of the
    # Structured Streaming windowed agg in streaming/ingest.py).
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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


_register(
    "time_bucket_agg",
    _time_bucket_agg,
    """
SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS bucket_us, event_type,
       count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
)


def _sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sliding event-time windows (1 h window, 30 min slide): each event
    # lands in window_len/slide = 2 buckets.  Spark's window() generates
    # them natively; the oracle replays the same two-buckets-per-event
    # explode with integer epoch arithmetic.
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type",
            "n",
        )
    )


_register(
    "sliding_window_agg",
    _sliding_window_agg,
    """
WITH e AS (
  SELECT event_type, epoch_us(ts) AS t_us,
         unnest([0, 1]) AS k
  FROM events
),
w AS (
  SELECT event_type,
         (t_us // 1800000000 - k) * 1800000000 AS win_start_us
  FROM e
  WHERE t_us >= (t_us // 1800000000 - k) * 1800000000
    AND t_us <  (t_us // 1800000000 - k) * 1800000000 + 3600000000
)
SELECT win_start_us, event_type, count(*) AS n
FROM w GROUP BY 1, 2
""",
)


def _semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semi/anti join surface: customers partitioned into with/without
    # orders via left_semi / left_anti (EXISTS / NOT EXISTS).
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    okeys = orders.select(F.col("o_custkey"))
    with_o = cust.join(okeys, cust.c_custkey == okeys.o_custkey, "left_semi").select(
        "c_custkey", F.lit(True).alias("has_orders")
    )
    without_o = cust.join(okeys, cust.c_custkey == okeys.o_custkey, "left_anti").select(
        "c_custkey", F.lit(False).alias("has_orders")
    )
    return with_o.unionByName(without_o)


_register(
    "semi_anti_customers",
    _semi_anti_customers,
    """
SELECT c_custkey, TRUE AS has_orders FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT c_custkey, FALSE AS has_orders FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)


def _set_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Set-op surface: EXCEPT and INTERSECT between key sets.
    part = load_table(spark, sf_dir, "part").select(F.col("p_partkey").alias("k"))
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    never_ordered = part.exceptAll(li.distinct()).distinct().select(
        "k", F.lit("never_ordered").alias("class")
    )
    ordered = part.intersect(li).select("k", F.lit("ordered").alias("class"))
    return never_ordered.unionByName(ordered)


_register(
    "set_except_intersect",
    _set_except_intersect,
    """
SELECT k, 'never_ordered' AS class FROM (
  SELECT p_partkey AS k FROM part EXCEPT SELECT l_partkey FROM lineitem
)
UNION ALL
SELECT k, 'ordered' AS class FROM (
  SELECT p_partkey AS k FROM part INTERSECT SELECT l_partkey FROM lineitem
)
""",
)


def _upscale_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T1's explode-upscale semantics applied to a testdata fact table
    # (FIXTURES.md §6): every row becomes 2×2×2 rows with rescaled keys.
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("z"),
        F.col("l_linenumber").cast("long").alias("y"),
        F.col("l_suppkey").alias("x"),
        F.col("l_partkey").alias("label"),
    )
    return U.upscale_coo(li, 2)


_register(
    "upscale_lineitem",
    _upscale_lineitem,
    """
SELECT l_orderkey * 2 + a.range AS z,
       CAST(l_linenumber AS BIGINT) * 2 + b.range AS y,
       l_suppkey * 2 + c.range AS x,
       l_partkey AS label
FROM lineitem, range(2) a, range(2) b, range(2) c
""",
    # flagship narrow upscale: zero shuffles, codegen'd
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _decimate_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T5's stride-2 decimation on testdata keys (FIXTURES.md §6).
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_orderkey") % 2 == 0) & (F.col("l_linenumber") % 2 == 0)
    ).select(
        (F.col("l_orderkey") / 2).cast("long").alias("z"),
        (F.col("l_linenumber") / 2).cast("long").alias("y"),
        F.col("l_partkey").alias("label"),
    )


_register(
    "decimate_lineitem",
    _decimate_lineitem,
    """
SELECT l_orderkey // 2 AS z, CAST(l_linenumber // 2 AS BIGINT) AS y, l_partkey AS label
FROM lineitem WHERE l_orderkey % 2 = 0 AND l_linenumber % 2 = 0
""",
)


def _scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # String/date/math scalar surface (SURVEY §2.8): concat, substring,
    # upper, length, date parts, arithmetic rounding.
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.concat(F.lit("ORD-"), F.col("o_orderkey")).alias("tag"),
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio3"),
        F.length("o_orderstatus").alias("status_len"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        # floor-truncate instead of round(): Spark rounds the shortest
        # decimal repr of a double, DuckDB the raw binary — they disagree
        # near .5 boundaries; floor on identical doubles is deterministic.
        (F.floor(F.col("o_totalprice") / 1000.0 * 100) / 100).alias("kprice"),
    )


_register(
    "scalar_functions",
    _scalar_functions,
    """
SELECT o_orderkey,
       'ORD-' || o_orderkey AS tag,
       upper(substring(o_orderpriority, 1, 3)) AS prio3,
       CAST(length(o_orderstatus) AS INTEGER) AS status_len,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(day(o_orderdate) AS INTEGER) AS dom,
       floor(o_totalprice / 1000.0 * 100) / 100 AS kprice
FROM orders
""",
)


def _json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semi-structured props column: extract the numeric field from the
    # JSON payload (portable via regexp on both engines; Spark also has
    # get_json_object — regexp keeps the oracle dialect-neutral).
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r"(\d+)", 1).cast("int").alias("k"),
        F.get_json_object("props", "$.k").cast("int").alias("k_json"),
    )


_register(
    "json_extract_events",
    _json_extract_events,
    """
SELECT event_id,
       CAST(regexp_extract(props, '(\\d+)', 1) AS INTEGER) AS k,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_json
FROM events
""",
)


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions (driver-mandated; SURVEY §2.8 / §7.8):
# dedup, similarity search, text analysis, multimodal plumbing.
# The oracle replays the tid-dictionary hashing backend; the xxhash64
# scale backend is property-tested in tests/ instead.
# ---------------------------------------------------------------------------

# Shared oracle fragment for the token dictionary pipeline (multiset —
# SimHash weighs repeated tokens; MinHash uses the shingle CTE below).
_TOKS_MULTISET_CTE = """
tm AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  )
),
dict AS (
  SELECT tok, CAST(dense_rank() OVER (ORDER BY tok) AS BIGINT) AS tid
  FROM (SELECT DISTINCT tok FROM tm)
),
t AS (SELECT doc_id, tid FROM tm JOIN dict USING (tok))
"""


def _duplicate_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.dedup import duplicate_windows

    return duplicate_windows(
        load_table(spark, sf_dir, "documents"), window=8, stride=4
    )


_register(
    "duplicate_windows",
    _duplicate_windows_q,
    """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
ex AS (
  SELECT doc_id,
         md5(array_to_string(t[i+1:i+8], ' ')) AS win_hash
  FROM w, unnest(generate_series(0, len(t) - 8, 4)) AS s(i)
  WHERE len(t) >= 8
)
SELECT win_hash,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM ex GROUP BY win_hash HAVING count(DISTINCT doc_id) > 1
""",
    # substring-dup detection: narrow windowed explode + one
    # aggregate (countDistinct expand) — fixed-width md5 keys
    audit={"max_shuffles": 2, "codegen": True, "no_python_udf": True},
)


def _duplicate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.dedup import duplicate_spans

    return duplicate_spans(
        load_table(spark, sf_dir, "documents"), k=4, min_tokens=6
    )


# Content-defined segmentation (offset-independent substring dedup):
# breakpoints where md5 of the 4-gram ending at pos starts with '0'/'1';
# segment id = running count of earlier breakpoints; duplicated segments
# grouped on the segment-text hash.  Mirrors duplicate_spans() exactly.
_register(
    "duplicate_spans",
    _duplicate_spans_q,
    """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
ex AS (
  SELECT doc_id, i AS pos, t[i+1] AS tok,
         CASE WHEN i >= 3 AND substring(
                md5(array_to_string(t[i-2:i+1], ' ')), 1, 1) IN ('0', '1')
              THEN 1 ELSE 0 END AS anchor
  FROM w, unnest(generate_series(0, len(t) - 1, 1)) AS s(i)
),
seg AS (
  SELECT doc_id, pos, tok,
         COALESCE(SUM(anchor) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg_id
  FROM ex
),
segs AS (
  SELECT doc_id, seg_id,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS span_hash,
         count(*) AS n_tokens
  FROM seg GROUP BY doc_id, seg_id
  HAVING count(*) >= 6
)
SELECT span_hash,
       CAST(min(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM segs GROUP BY span_hash HAVING count(DISTINCT doc_id) > 1
""",
    # content-defined span dedup: segmentation is fully array-side;
    # the only exchanges are the span-hash aggregation's two phases
    # (COUNT DISTINCT doc_id: partial on (hash, doc) then final on
    # hash — both segment-row-sized, never token-row-sized)
    audit={"max_shuffles": 2, "codegen": True, "no_python_udf": True},
)


def _lm_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.text import lm_score

    return lm_score(load_table(spark, sf_dir, "documents"))


# Add-one-smoothed bigram LM: P(w2|w1) = (B+1)/(U(w1)+V); doc score =
# mean of its bigram probabilities.  Each probability is one IEEE
# division of exact integers (bitwise-identical cross-engine), rounded
# to 12 places and summed as DECIMAL so the mean is order-independent.
_register(
    "lm_score",
    _lm_score_q,
    """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bi AS (
  SELECT doc_id, t[i+1] AS w1, t[i+2] AS w2
  FROM w, unnest(generate_series(0, len(t) - 2, 1)) AS s(i)
  WHERE len(t) >= 2
),
uni AS (
  SELECT tok, count(*) AS u_cnt
  FROM (SELECT unnest(t) AS tok FROM w) GROUP BY tok
),
v AS (SELECT count(*) AS v_cnt FROM uni),
b AS (SELECT w1, w2, count(*) AS b_cnt FROM bi GROUP BY w1, w2),
terms AS (
  SELECT doc_id,
         CAST(round(CAST(b_cnt + 1 AS DOUBLE)
                    / CAST(u_cnt + v_cnt AS DOUBLE), 12)
              AS DECIMAL(24,12)) AS p
  FROM bi JOIN b USING (w1, w2) JOIN uni ON bi.w1 = uni.tok, v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(p) AS DOUBLE) / count(*) AS lm_score
FROM terms GROUP BY doc_id
""",
    # bigram LM: count-table aggs + scoring joins, all keyed on
    # bounded vocab keys; V must arrive broadcast, never collected
    audit={"max_shuffles": 6, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.bpe import to_symbols, top_pairs, word_frequencies

    return top_pairs(
        to_symbols(word_frequencies(load_table(spark, sf_dir, "documents"))), k=20
    )


# First BPE training iteration: weighted adjacent symbol-pair counts
# over the word-frequency table (chars + '</w>' marker), top-20 by
# (count desc, s1, s2) — rank 1 IS the trainer's first merge.  The full
# driver-loop trainer is verified against a pure-Python reference in
# tests/test_extensions.py (test_bpe_train_matches_reference).
_register(
    "bpe_pair_counts",
    _bpe_pair_counts_q,
    """
WITH words AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word != '' GROUP BY word
),
syms AS (
  SELECT freq,
         list_append(list_transform(generate_series(1, length(word)),
                                    i -> substring(word, i, 1)), '</w>') AS s
  FROM words
),
px AS (
  SELECT s[i+1] AS s1, s[i+2] AS s2, freq
  FROM syms, unnest(generate_series(0, len(s) - 2, 1)) AS t(i)
),
agg AS (
  SELECT s1, s2, CAST(sum(freq) AS BIGINT) AS pair_count
  FROM px GROUP BY s1, s2
)
SELECT s1, s2, pair_count,
       CAST(row_number() OVER (ORDER BY pair_count DESC, s1, s2) AS INTEGER) AS rank
FROM agg ORDER BY pair_count DESC, s1, s2 LIMIT 20
""",
    # BPE iteration-1 pair table: word-count exchange + pair-count
    # exchange + the ≤20-row rank window
    audit={"max_shuffles": 4, "codegen": True, "no_python_udf": True},
)


def _ewma_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.resample import ewma

    out = ewma(load_table(spark, sf_dir, "events"), lookback=8)
    return out.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
        "ewma",
        "n_terms",
    )


# Bounded-lookback EWMA (half-life = one row): weights are exact
# rationals 1/2^k, each term rounded to 12 places and summed as DECIMAL —
# order-independent, bitwise-portable (lm_score contract).
_register(
    "ewma_events",
    _ewma_q,
    """
WITH ranked AS (
  SELECT user_id AS k, ts AS t, event_id AS eid, value AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
j AS (
  SELECT c.k, c.t, c.eid, c.v,
         CAST(round(p.v * (1.0 / (1 << (c.rn - p.rn))), 12)
              AS DECIMAL(28,12)) AS num,
         CAST(round(1.0 / (1 << (c.rn - p.rn)), 12)
              AS DECIMAL(28,12)) AS den
  FROM ranked c JOIN ranked p
    ON c.k = p.k AND p.rn <= c.rn AND p.rn > c.rn - 8
)
SELECT k AS user_id, epoch_us(t) AS ts_us, eid AS event_id, v AS value,
       CAST(sum(num) AS DOUBLE) / CAST(sum(den) AS DOUBLE) AS ewma,
       CAST(count(*) AS INTEGER) AS n_terms
FROM j GROUP BY k, t, eid, v
""",
    # EWMA: rank window + key-partitioned self-join + final agg —
    # every wide op keys on user_id, so the exchanges collapse
    audit={"max_shuffles": 4, "codegen": True, "no_python_udf": True},
)


def _zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.resample import zscore_outliers

    return zscore_outliers(load_table(spark, sf_dir, "events"), threshold=2.5)


# Population z-score outliers per event_type: DECIMAL(18,2) sums make
# the moments exact; mean/var/sqrt are IEEE ops on identical inputs.
_register(
    "zscore_outliers",
    _zscore_q,
    """
WITH stats AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(value AS DECIMAL(18,2))) AS s,
         sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS ss
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type,
         CAST(s AS DOUBLE) / n AS mean,
         sqrt(greatest(0.0, CAST(ss AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))) AS std
  FROM stats
)
SELECT e.event_id, e.event_type, e.value, m.mean, m.std,
       (e.value - m.mean) / m.std AS z
FROM events e JOIN m USING (event_type)
WHERE abs((e.value - m.mean) / m.std) > 2.5
""",
    # z-score screen: ONE stats exchange; the event-side scan joins
    # broadcast and never shuffles
    audit={"max_shuffles": 1, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.training import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), max_tokens=64, overlap=16
    )


# Overlapping context-window chunking (stride 48 = 64 - 16); chunk
# counts via integer ceiling — fully narrow, engine-portable.
_register(
    "chunk_documents",
    _chunk_documents_q,
    """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, t, n,
         CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS n_chunks
  FROM w
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_id,
       CAST(i * 48 AS BIGINT) AS start_token,
       CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens,
       array_to_string(t[i*48+1:i*48+64], ' ') AS chunk_text
FROM c, unnest(generate_series(0, n_chunks - 1, 1)) AS s(i)
""",
    # context-window chunking: pure narrow explode
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _prepare_rag_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.pipeline import prepare_rag_corpus

    return prepare_rag_corpus(
        load_table(spark, sf_dir, "documents"), max_tokens=64, overlap=16
    )


def _rag_oracle() -> str:
    # composed from the already-verified fragments: model-quality margin
    # (model_quality_screen), text-partition dedup election, the bigram
    # LM chain (lm_score), integer-ceil chunking (chunk_documents) and
    # the md5-band split (hash_split).
    return f"""
WITH g AS (
  SELECT doc_id, text,
         -0.4::DOUBLE + 0.0005::DOUBLE * length(text)
           + 0.004::DOUBLE * len(string_split(text, ' '))
           + (-0.06::DOUBLE) * len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
           + 0.09::DOUBLE * len(list_filter(string_split(text, ' '), x -> list_contains({_STOPLIST_SQL}, x)))
           + 2.5::DOUBLE * (len(list_filter(string_split(text, ' '), x -> list_contains({_STOPLIST_SQL}, x))) / len(string_split(text, ' ')))
           + (-0.08::DOUBLE) * (length(text) / len(string_split(text, ' '))) AS margin
  FROM documents
),
gated AS (SELECT doc_id, text FROM g WHERE margin >= 0.0::DOUBLE),
canon AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY text) AS cid FROM gated
  ) WHERE doc_id = cid
),
w2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM canon),
bi AS (
  SELECT doc_id, t[i+1] AS w1, t[i+2] AS w2
  FROM w2, unnest(generate_series(0, len(t) - 2, 1)) AS s(i)
  WHERE len(t) >= 2
),
uni AS (
  SELECT tok, count(*) AS u_cnt
  FROM (SELECT unnest(t) AS tok FROM w2) GROUP BY tok
),
v AS (SELECT count(*) AS v_cnt FROM uni),
b AS (SELECT w1, w2, count(*) AS b_cnt FROM bi GROUP BY w1, w2),
terms AS (
  SELECT doc_id,
         CAST(round(CAST(b_cnt + 1 AS DOUBLE)
                    / CAST(u_cnt + v_cnt AS DOUBLE), 12)
              AS DECIMAL(24,12)) AS p
  FROM bi JOIN b USING (w1, w2) JOIN uni ON bi.w1 = uni.tok, v
),
scores AS (
  SELECT doc_id, CAST(sum(p) AS DOUBLE) / count(*) AS lm_score
  FROM terms GROUP BY doc_id
),
m AS (
  SELECT CAST(sum(CAST(round(lm_score, 12) AS DECIMAL(28,12))) AS DOUBLE)
         / count(*) AS mean_score
  FROM scores
),
kept AS (
  SELECT c.doc_id, c.text, s.lm_score
  FROM canon c JOIN scores s USING (doc_id), m
  WHERE round(s.lm_score, 12) >= m.mean_score
),
cc AS (
  SELECT doc_id, lm_score, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS n,
         CASE WHEN len(string_split(text, ' ')) <= 64 THEN 1
              ELSE (len(string_split(text, ' ')) - 64 + 47) // 48 + 1 END AS n_chunks
  FROM kept
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_id,
       CAST(i * 48 AS BIGINT) AS start_token,
       CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens,
       array_to_string(t[i*48+1:i*48+64], ' ') AS chunk_text,
       lm_score,
       CASE WHEN substr(md5('split:' || doc_id), 1, 8) < 'cccccccc' THEN 'train'
            WHEN substr(md5('split:' || doc_id), 1, 8) < 'e6666666' THEN 'val'
            ELSE 'test' END AS split
FROM cc, unnest(generate_series(0, n_chunks - 1, 1)) AS s(i)
"""


# NOTE: _register("prepare_rag_corpus", ...) happens after the
# _STOPLIST_SQL constant is defined (the oracle interpolates it).


def _vox_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Region centroids: integer coordinate sums (exact) / count — the
    # per-region geometry statistic next to vox_bbox's extents.
    return (
        synthetic_voxels(spark)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_voxels"),
            (F.sum("z").cast("double") / F.count("*")).alias("cz"),
            (F.sum("y").cast("double") / F.count("*")).alias("cy"),
            (F.sum("x").cast("double") / F.count("*")).alias("cx"),
        )
    )


_register(
    "vox_centroids",
    _vox_centroids,
    f"""
WITH {VOX_CTE.strip()}
SELECT label, CAST(count(*) AS BIGINT) AS n_voxels,
       CAST(sum(z) AS DOUBLE) / count(*) AS cz,
       CAST(sum(y) AS DOUBLE) / count(*) AS cy,
       CAST(sum(x) AS DOUBLE) / count(*) AS cx
FROM voxels GROUP BY label
""",
)


def _winsorize_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Percentile-clipping (winsorization) per group: exact interpolated
    # p10/p90 (bitwise-portable, see percentile_quantity) broadcast back
    # onto the scan — the outlier-robust preprocessing step.
    li = load_table(spark, sf_dir, "lineitem")
    pct = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.1)").alias("p_lo"),
        F.expr("percentile(l_quantity, 0.9)").alias("p_hi"),
    )
    return (
        li.join(F.broadcast(pct), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_quantity",
            F.least(
                F.greatest(F.col("l_quantity"), F.col("p_lo")), F.col("p_hi")
            ).alias("clipped"),
            (
                (F.col("l_quantity") < F.col("p_lo"))
                | (F.col("l_quantity") > F.col("p_hi"))
            ).alias("was_clipped"),
        )
    )


_register(
    "winsorize_quantity",
    _winsorize_quantity,
    """
WITH pct AS (
  SELECT l_returnflag,
         quantile_cont(l_quantity, 0.1) AS p_lo,
         quantile_cont(l_quantity, 0.9) AS p_hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
       least(greatest(l_quantity, p_lo), p_hi) AS clipped,
       (l_quantity < p_lo OR l_quantity > p_hi) AS was_clipped
FROM lineitem JOIN pct USING (l_returnflag)
""",
    # z-scored stats broadcast back; scan side never shuffles — and
    # the histogram/winsorize/centroid group share the same shape
    audit={"max_shuffles": 1, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-width numeric binning anchored at the corpus minimum (the
    # OLAP histogram primitive).  bin = floor((v - min)/width): both
    # engines compute the identical double then the identical floor —
    # no rounding anywhere.  One stats agg broadcast back, narrow bin
    # pass, one count exchange.
    ev = load_table(spark, sf_dir, "events")
    mn = ev.agg(F.min("value").alias("mn"))
    width = 5.0
    return (
        ev.crossJoin(F.broadcast(mn))
        .select(
            F.floor((F.col("value") - F.col("mn")) / F.lit(width))
            .cast("int")
            .alias("bin"),
            "value",
            "mn",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            (F.min("mn") + F.col("bin") * F.lit(width)).alias("bin_lo"),
        )
        .select("bin", "bin_lo", "n")
    )


_register(
    "value_histogram",
    _value_histogram,
    """
WITH m AS (SELECT min(value) AS mn FROM events),
b AS (
  SELECT CAST(floor((value - mn) / 5.0) AS INTEGER) AS bin, mn
  FROM events, m
)
SELECT bin, min(mn) + bin * 5.0 AS bin_lo, CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY bin
""",
)


def _correlation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pearson correlation per group from exact DECIMAL moment sums
    # (x, y, xy, x², y² — order-independent), finished in doubles where
    # every step is an IEEE op on identical inputs (zscore contract).
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_discount").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov = sxy / n - (sx / n) * (sy / n)
    vx = sxx / n - (sx / n) * (sx / n)
    vy = syy / n - (sy / n) * (sy / n)
    return agg.select(
        "l_returnflag",
        F.col("n"),
        cov.alias("cov"),
        (cov / F.sqrt(vx * vy)).alias("corr"),
    )


_register(
    "correlation_stats",
    _correlation_stats,
    """
WITH a AS (
  SELECT l_returnflag, count(*) AS n,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         sum(CAST(l_discount AS DECIMAL(18,2))) AS sy,
         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS sxy,
         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
         sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS cov,
       (CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
         / sqrt((CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
              * (CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))) AS corr
FROM a
""",
)


def _fuzzy_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Edit-distance fuzzy lookup: nearest customer names to a probe
    # string (integer Levenshtein — identical in any engine), top-10 by
    # (distance, key).  TakeOrderedAndProject, never a global sort; a
    # fuzzy JOIN at scale would go through the LSH/shingle machinery
    # instead of all-pairs edit distance.
    cust = load_table(spark, sf_dir, "customer")
    probe = "Customer#000000042"
    return (
        cust.select(
            "c_custkey",
            "c_name",
            F.levenshtein(F.col("c_name"), F.lit(probe)).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("c_custkey").asc())
        .limit(10)
    )


_register(
    "fuzzy_lookup",
    _fuzzy_lookup,
    """
SELECT c_custkey, c_name,
       CAST(levenshtein(c_name, 'Customer#000000042') AS INTEGER) AS dist
FROM customer
ORDER BY dist ASC, c_custkey ASC LIMIT 10
""",
    # edit-distance top-k must be TakeOrderedAndProject, not a sort
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Forward as-of: each event matched to the user's EARLIEST order at
    # or after the event time (the "next state" lookup; same
    # union+window plan as backward, reversed scan order).
    from .operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    joined = asof_join(
        ev,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey"],
        direction="forward",
    )
    return joined.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "o_orderkey"
    )


_register(
    "asof_forward",
    _asof_forward,
    """
WITH o AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, o.o_orderkey
FROM events e ASOF LEFT JOIN o
  ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
""",
    # forward as-of: same union+window shape as backward — one
    # exchange per side, never a quadratic intermediate
    audit={"max_shuffles": 3, "codegen": True, "no_python_udf": True},
)


def _sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gaps-and-islands: ranges of missing o_orderkey values per customer
    # band — the data-quality/audit primitive (did ingestion drop ids?).
    # One key-partitioned lag window; emits only the gap rows.
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 10).alias("band"), "o_orderkey"
    )
    w = Window.partitionBy("band").orderBy("o_orderkey")
    return (
        orders.withColumn("prev", F.lag("o_orderkey").over(w))
        .filter(F.col("o_orderkey") - F.col("prev") > 1)
        .select(
            "band",
            (F.col("prev") + 1).alias("gap_start"),
            (F.col("o_orderkey") - 1).alias("gap_end"),
            (F.col("o_orderkey") - F.col("prev") - 1).alias("n_missing"),
        )
    )


_register(
    "sequence_gaps",
    _sequence_gaps,
    """
WITH o AS (SELECT o_custkey % 10 AS band, o_orderkey FROM orders),
l AS (
  SELECT band, o_orderkey,
         lag(o_orderkey) OVER (PARTITION BY band ORDER BY o_orderkey) AS prev
  FROM o
)
SELECT band, prev + 1 AS gap_start, o_orderkey - 1 AS gap_end,
       o_orderkey - prev - 1 AS n_missing
FROM l WHERE o_orderkey - prev > 1
""",
    # gaps-and-islands: one key-partitioned lag window
    audit={"max_shuffles": 1, "codegen": True, "no_python_udf": True},
)


def _cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cumulative distinct users per day — the growth-curve query.
    # Window COUNT(DISTINCT) doesn't exist; the scalable form is
    # first-seen election per user (one exchange) + daily counts + a
    # running sum over the tiny day frame.
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = first_seen.groupBy("first_day").agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("total_users"),
    )


_register(
    "cumulative_users",
    _cumulative_users,
    """
WITH fs AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
),
d AS (SELECT first_day, count(*) AS new_users FROM fs GROUP BY first_day)
SELECT strftime(first_day, '%Y-%m-%d') AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY first_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS total_users
FROM d
""",
    # cumulative users: first-seen exchange + day agg + the running
    # sum over the tiny day frame (single-partition window is fine
    # at |days| rows)
    audit={"max_shuffles": 4, "codegen": True, "no_python_udf": True},
)


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.dedup import exact_dedup

    return exact_dedup(load_table(spark, sf_dir, "documents"))


_register(
    "dedup_exact",
    _dedup_exact,
    """
SELECT min(doc_id) AS keep_id, count(*) AS n_copies, text
FROM documents GROUP BY text
""",
    # exact dedup: ONE shuffle on the 128-bit fingerprint, nothing
    # else — the whole-corpus dedup pass at 100 TB is a single
    # map-side-combined exchange
    audit={"max_shuffles": 1, "codegen": True, "no_python_udf": True},
)


def _dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), n=3, threshold=0.5)


_register(
    "dedup_ngram_jaccard",
    _dedup_ngram_jaccard,
    """
WITH sh AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         unnest(range(len(string_split(text, ' ')) - 2)) AS i
  FROM documents
),
g AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS gram FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
       inter / (s1.n + s2.n - inter) AS jaccard
FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
WHERE inter / (s1.n + s2.n - inter) >= 0.5
""",
)


def _setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT Jaccard-threshold join WITHOUT all-pairs: prefix filtering
    # (AllPairs/PPJoin).  The oracle is brute-force all-pairs, so it
    # verifies the filter's completeness theorem, not just the values.
    from .extensions.dedup import prefix_filter_join

    return prefix_filter_join(
        load_table(spark, sf_dir, "documents"), threshold=0.6, n=3
    )


_register(
    "setsim_prefix_join",
    _setsim_prefix_join,
    """
WITH sh AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         unnest(range(len(string_split(text, ' ')) - 2)) AS i
  FROM documents
),
g AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS gram FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
       inter / (s1.n + s2.n - inter) AS jaccard
FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
WHERE inter / (s1.n + s2.n - inter) >= 0.6
""",
    # AllPairs/PPJoin exact set-similarity: candidate generation is
    # an equi-join on rare prefix tokens, NEVER a cross product.
    # The sorted-array table is localCheckpoint'd (3 consumers →
    # computed once), so the audited plan covers the candidate +
    # verify stages: prefix join, pair distinct, two array joins —
    # all equi-joins on (tok | d1 | d2), zero cartesians; budget 4
    # (at sf the optimizer broadcasts the small sides → measured 1)
    # +1 exchange: the explicit verify-stage repartition of the
    # candidate pair frame (CPU-bound array_intersect stage)
    audit={"max_shuffles": 5, "codegen": True, "no_python_udf": True},
)


def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.dedup import minhash_lsh_pairs

    # use_dictionary=True pins the oracle-portability backend (DuckDB
    # reproduces the dense_rank shingle ids exactly); the library
    # DEFAULT is the xxhash64 scale backend with no global window —
    # audited as `FIXTURES["dedup_minhash_scale"]` in tools/audit_plans.py.
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=16,
        bands=8,
        min_est_sim=0.5,
        use_dictionary=True,
    )


# MinHash over word-3-gram shingles (not raw tokens — the 31-word test
# vocabulary makes token *sets* degenerate); dict ids via dense_rank.
_SHINGLES_CTE = """
sh AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         unnest(range(len(string_split(text, ' ')) - 2)) AS i
  FROM documents
),
g AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS gram FROM sh),
dict AS (
  SELECT gram, CAST(dense_rank() OVER (ORDER BY gram) AS BIGINT) AS tid
  FROM (SELECT DISTINCT gram FROM g)
),
t AS (SELECT doc_id, tid FROM g JOIN dict USING (gram))
"""

_register(
    "dedup_minhash_lsh",
    _dedup_minhash_lsh,
    f"""
WITH {_SHINGLES_CTE},
sigs AS (
  SELECT doc_id, i.range AS i,
         min((((1103515245 * (2 * i.range + 1)) % 2147483647) * tid
              + ((12345 + 1013904223 * i.range) % 2147483647)) % 2147483647) AS sig
  FROM t, range(16) i GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, CAST(i // 2 AS INTEGER) AS band,
         string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS bkey
  FROM sigs GROUP BY 1, 2
),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
scored AS (
  SELECT d1, d2, sum(CASE WHEN s1.sig = s2.sig THEN 1 ELSE 0 END) / 16 AS est_sim
  FROM cands
  JOIN sigs s1 ON s1.doc_id = d1
  JOIN sigs s2 ON s2.doc_id = d2 AND s2.i = s1.i
  GROUP BY 1, 2
)
SELECT d1, d2, est_sim FROM scored WHERE est_sim >= 0.5
""",
)


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.dedup import simhash

    # dictionary backend pinned for the DuckDB oracle (dense_rank token
    # ids); the library default is the xxhash64 scale backend.
    return simhash(
        load_table(spark, sf_dir, "documents"), bits=16, use_dictionary=True
    )


_register(
    "dedup_simhash",
    _dedup_simhash,
    f"""
WITH {_TOKS_MULTISET_CTE},
contrib AS (
  SELECT doc_id, j.range AS j,
         sum(CASE WHEN ((((1103515245 * (2 * j.range + 1)) % 2147483647) * tid
                         + ((12345 + 1013904223 * j.range) % 2147483647)) % 2147483647) % 2 = 1
                  THEN 1 ELSE -1 END) AS c
  FROM t, range(16) j GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(CASE WHEN c > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
FROM contrib GROUP BY doc_id
""",
)


_COSINE_SQL = "list_dot_product({a}, {b}) / sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b}))"


def _embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


_register(
    "embed_topk",
    _embed_topk,
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_COSINE_SQL.format(a='qv', b='cv')} AS cosine
  FROM q, c WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 5
""",
)


def _embed_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.similarity import ann_lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb.filter(F.col("vec_id") < 10), emb, k=5, n_planes=8)


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {{v}}[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)" for j in range(8)
)

_register(
    "embed_ann_lsh",
    _embed_ann_lsh,
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         {_BUCKET_SQL.format(v='(embedding::DOUBLE[])')} AS bucket
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
         {_BUCKET_SQL.format(v='(embedding::DOUBLE[])')} AS bucket
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id, {_COSINE_SQL.format(a='qv', b='cv')} AS cosine
  FROM q JOIN c USING (bucket) WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 5
""",
)


def _embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.5, n_planes=4
    )


_BUCKET4_SQL = " + ".join(
    f"(CASE WHEN {{v}}[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)" for j in range(4)
)

_register(
    "embed_near_dup",
    _embed_near_dup,
    f"""
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         {_BUCKET4_SQL.format(v='(embedding::DOUBLE[])')} AS bucket
  FROM embeddings
)
SELECT a.id AS d1, b.id AS d2, {_COSINE_SQL.format(a='a.v', b='b.v')} AS cosine
FROM c a JOIN c b ON a.bucket = b.bucket AND a.id < b.id
WHERE {_COSINE_SQL.format(a='a.v', b='b.v')} >= 0.5
""",
)


def _embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF ANN with the deterministic coarse quantizer (refine_iters=0:
    # centroids = the 16 lowest-id corpus vectors, normalized), so the
    # whole bucket assignment + probe + score path is SQL-expressible.
    # Cosines are rounded to 9 digits on BOTH sides: the Spark path
    # normalizes qv before the scale-invariant cosine, so the last ulp
    # can differ from the oracle's raw-qv evaluation.
    from .extensions.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5, n_centroids=16, n_probe=4
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 9).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


_register(
    "embed_ivf_topk",
    _embed_ivf_topk,
    f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid,
         embedding::DOUBLE[] AS ctv
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
),
corpus AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
assigned AS (
  SELECT neighbor_id, cv, cid AS bucket FROM (
    SELECT c.neighbor_id, c.cv, ct.cid,
           row_number() OVER (PARTITION BY c.neighbor_id
                              ORDER BY {_COSINE_SQL.format(a="c.cv", b="ct.ctv")} DESC, ct.cid) AS r
    FROM corpus c, cents ct
  ) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
probes AS (
  SELECT query_id, qv, cid AS bucket FROM (
    SELECT q.query_id, q.qv, ct.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_COSINE_SQL.format(a="q.qv", b="ct.ctv")} DESC, ct.cid) AS r
    FROM q, cents ct
  ) WHERE r <= 4
),
scored AS (
  SELECT query_id, neighbor_id, {_COSINE_SQL.format(a="qv", b="cv")} AS cosine
  FROM probes JOIN assigned USING (bucket)
  WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, round(cosine, 9) AS cosine, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY round(cosine, 9) DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 5
""",
    # IVF ANN: broadcast probe join onto bucket-assigned corpus +
    # per-query top-k window — the corpus is never shuffled by
    # anything except the final k-row-per-query window
    audit={"broadcast": True, "max_shuffles": 1},
)


def _embed_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Product quantization with asymmetric-distance scoring (Jégou et
    # al.): deterministic lowest-id codebooks (the ivf_topk seeding
    # contract) keep the whole encode+ADC path SQL-replayable; per-term
    # distances round to 9 digits and DECIMAL-sum.
    from .extensions.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb.filter(F.col("vec_id") < 10), emb, k=5, m=4, k_sub=16)


_L2SQ_SQL = (
    "list_sum(list_transform(generate_series(1, len({a})),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)

_register(
    "embed_pq_topk",
    _embed_pq_topk,
    f"""
WITH seed AS (
  SELECT vec_id, embedding::DOUBLE[] AS sv
  FROM embeddings ORDER BY vec_id LIMIT 16
),
js AS (SELECT unnest(generate_series(0, 3)) AS j),
books AS (
  SELECT js.j AS j,
         CAST(row_number() OVER (PARTITION BY js.j ORDER BY s.vec_id) AS INTEGER) - 1 AS code,
         s.sv[js.j*16+1 : js.j*16+16] AS cw
  FROM seed s, js
),
csub AS (
  SELECT vec_id AS neighbor_id, js.j AS j,
         (embedding::DOUBLE[])[js.j*16+1 : js.j*16+16] AS cs
  FROM embeddings, js
),
assigned AS (
  SELECT neighbor_id, j, code FROM (
    SELECT c.neighbor_id, c.j, b.code,
           row_number() OVER (PARTITION BY c.neighbor_id, c.j
                              ORDER BY round({_L2SQ_SQL.format(a="c.cs", b="b.cw")}, 9) ASC,
                                       b.code ASC) AS r
    FROM csub c JOIN books b USING (j)
  ) WHERE r = 1
),
qsub AS (
  SELECT vec_id AS query_id, js.j AS j,
         (embedding::DOUBLE[])[js.j*16+1 : js.j*16+16] AS qs
  FROM embeddings, js WHERE vec_id < 10
),
terms AS (
  SELECT q.query_id, a.neighbor_id,
         CAST(round({_L2SQ_SQL.format(a="q.qs", b="b.cw")}, 9) AS DECIMAL(28,9)) AS term
  FROM assigned a JOIN books b USING (j, code) JOIN qsub q USING (j)
  WHERE q.query_id != a.neighbor_id
),
dist AS (
  SELECT query_id, neighbor_id, CAST(sum(term) AS DOUBLE) AS adist
  FROM terms GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, adist, CAST(rk AS INTEGER) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adist ASC, neighbor_id ASC) AS rk
  FROM dist
) WHERE rk <= 5
""",
    # PQ ADC scan (r13: fused Arrow kernel, one all-covering
    # bucket): encode + LUT scoring + partition-local top-k in ONE
    # narrow pass; the single exchange is the per-query ranking
    # window — |Q|·|corpus| pair rows never move (was: 2 exchanges
    # + 2 broadcasts + a pair aggregation)
    audit={"max_shuffles": 1, "no_python_udf": True},
)


def _embed_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVFADC (FAISS-style): IVF probes prune the candidate set, PQ ADC
    # scores it — ONE narrow kernel pass + one |Q|·k-row ranking
    # exchange (vs pq_topk's |Q|·|corpus| pair aggregation).  Same
    # deterministic quantizers as embed_ivf_topk / embed_pq_topk, so the
    # composition is SQL-replayable end-to-end.
    from .extensions.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        emb.filter(F.col("vec_id") < 10), emb,
        k=5, n_centroids=16, n_probe=4, m=4, k_sub=16,
    )


_register(
    "embed_ivf_pq_topk",
    _embed_ivf_pq_topk,
    f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid,
         embedding::DOUBLE[] AS ctv
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
),
corpus AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
ivf_assigned AS (
  SELECT neighbor_id, cid AS bucket FROM (
    SELECT c.neighbor_id, ct.cid,
           row_number() OVER (PARTITION BY c.neighbor_id
                              ORDER BY {_COSINE_SQL.format(a="c.cv", b="ct.ctv")} DESC, ct.cid) AS r
    FROM corpus c, cents ct
  ) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
probes AS (
  SELECT query_id, cid AS bucket FROM (
    SELECT q.query_id, ct.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_COSINE_SQL.format(a="q.qv", b="ct.ctv")} DESC, ct.cid) AS r
    FROM q, cents ct
  ) WHERE r <= 4
),
cand AS (
  SELECT p.query_id, a.neighbor_id
  FROM probes p JOIN ivf_assigned a USING (bucket)
  WHERE p.query_id != a.neighbor_id
),
seed AS (
  SELECT vec_id, embedding::DOUBLE[] AS sv
  FROM embeddings ORDER BY vec_id LIMIT 16
),
js AS (SELECT unnest(generate_series(0, 3)) AS j),
books AS (
  SELECT js.j AS j,
         CAST(row_number() OVER (PARTITION BY js.j ORDER BY s.vec_id) AS INTEGER) - 1 AS code,
         s.sv[js.j*16+1 : js.j*16+16] AS cw
  FROM seed s, js
),
csub AS (
  SELECT vec_id AS neighbor_id, js.j AS j,
         (embedding::DOUBLE[])[js.j*16+1 : js.j*16+16] AS cs
  FROM embeddings, js
),
codes_a AS (
  SELECT neighbor_id, j, code FROM (
    SELECT c.neighbor_id, c.j, b.code,
           row_number() OVER (PARTITION BY c.neighbor_id, c.j
                              ORDER BY round({_L2SQ_SQL.format(a="c.cs", b="b.cw")}, 9) ASC,
                                       b.code ASC) AS r
    FROM csub c JOIN books b USING (j)
  ) WHERE r = 1
),
qsub AS (
  SELECT vec_id AS query_id, js.j AS j,
         (embedding::DOUBLE[])[js.j*16+1 : js.j*16+16] AS qs
  FROM embeddings, js WHERE vec_id < 10
),
terms AS (
  SELECT cd.query_id, cd.neighbor_id,
         CAST(round({_L2SQ_SQL.format(a="q.qs", b="b.cw")}, 9) AS DECIMAL(28,9)) AS term
  FROM cand cd
  JOIN codes_a a ON a.neighbor_id = cd.neighbor_id
  JOIN books b USING (j, code)
  JOIN qsub q ON q.query_id = cd.query_id AND q.j = a.j
),
dist AS (
  SELECT query_id, neighbor_id, CAST(sum(term) AS DOUBLE) AS adist
  FROM terms GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, adist, CAST(rk AS INTEGER) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adist ASC, neighbor_id ASC) AS rk
  FROM dist
) WHERE rk <= 5
""",
    # IVFADC: assignment+encode+LUT scoring fused into ONE narrow
    # Arrow kernel emitting partition-local top-k — the single
    # exchange is the final per-query ranking window over
    # ≤ |Q|·k·n_partitions rows.  A second exchange here would mean
    # query×corpus pair rows are moving again (the pq_topk
    # scale-killer this operator replaces).
    audit={"max_shuffles": 1, "no_python_udf": True},
)


def _profile_lineitem_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ANALYZE-grade profiling in ONE scan: per-column null counts,
    # exact NDV, min/max — the ingest-validation pass a pipeline runs
    # before trusting a table.  Timestamps normalize to epoch seconds
    # via the same micros/1e6 division on both engines.
    from .operators.profile import profile_columns

    return profile_columns(load_table(spark, sf_dir, "lineitem"))


_PROFILE_COLS = [
    ("l_orderkey", "num"), ("l_partkey", "num"), ("l_suppkey", "num"),
    ("l_linenumber", "num"), ("l_quantity", "num"),
    ("l_extendedprice", "num"), ("l_discount", "num"), ("l_tax", "num"),
    ("l_returnflag", "str"), ("l_linestatus", "str"), ("l_shipdate", "ts"),
]


def _profile_oracle_sql() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "str":
            mn = mx = "CAST(NULL AS DOUBLE)"
            ms, xs = f"min({c})", f"max({c})"
        else:
            expr = f"(epoch_us({c}) / 1000000.0)" if kind == "ts" else c
            mn = f"CAST(min({expr}) AS DOUBLE)"
            mx = f"CAST(max({expr}) AS DOUBLE)"
            ms = xs = "CAST(NULL AS VARCHAR)"
        parts.append(
            f"""SELECT '{c}' AS "column", count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       {mn} AS min_numeric, {mx} AS max_numeric,
       {ms} AS min_string, {xs} AS max_string
FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts)


_register(
    "profile_lineitem",
    _profile_lineitem_q,
    _profile_oracle_sql(),
    # profiling: ONE aggregation (Expand partial + final) — per-
    # column job loops would show up as extra exchanges here
    audit={"max_shuffles": 2, "no_python_udf": True},
)


def _profile_drift_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Snapshot drift: early-epoch lineitem vs the rest, per-column
    # total-variation distance over shared histograms (bins pinned to
    # the OLD snapshot's range).  TV, not PSI: no ln in the oracle
    # contract — every term is an exact integer division.
    from .operators.profile import profile_drift

    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1998-01-01").cast("date")
    return profile_drift(
        li.filter(F.col("l_shipdate") < cut),
        li.filter(F.col("l_shipdate") >= cut),
        ["l_quantity", "l_extendedprice", "l_discount"],
        ["l_returnflag"],
    )


_register(
    "profile_drift_lineitem",
    _profile_drift_lineitem,
    """
WITH o AS (SELECT * FROM lineitem WHERE l_shipdate < DATE '1998-01-01'),
n AS (SELECT * FROM lineitem WHERE l_shipdate >= DATE '1998-01-01'),
st AS (
  SELECT min(CAST(l_quantity AS DOUBLE)) AS mn_q, max(CAST(l_quantity AS DOUBLE)) AS mx_q,
         min(CAST(l_extendedprice AS DOUBLE)) AS mn_e, max(CAST(l_extendedprice AS DOUBLE)) AS mx_e,
         min(CAST(l_discount AS DOUBLE)) AS mn_d, max(CAST(l_discount AS DOUBLE)) AS mx_d
  FROM o
),
ob AS (
  SELECT u.col AS "column", u.bin FROM o CROSS JOIN st
  CROSS JOIN LATERAL (VALUES
    ('l_quantity', CAST(CASE WHEN l_quantity IS NULL THEN -1 WHEN mx_q = mn_q THEN 0 ELSE
        least(9, greatest(0, CAST(floor((CAST(l_quantity AS DOUBLE) - mn_q) * 10 / (mx_q - mn_q)) AS BIGINT))) END AS VARCHAR)),
    ('l_extendedprice', CAST(CASE WHEN l_extendedprice IS NULL THEN -1 WHEN mx_e = mn_e THEN 0 ELSE
        least(9, greatest(0, CAST(floor((CAST(l_extendedprice AS DOUBLE) - mn_e) * 10 / (mx_e - mn_e)) AS BIGINT))) END AS VARCHAR)),
    ('l_discount', CAST(CASE WHEN l_discount IS NULL THEN -1 WHEN mx_d = mn_d THEN 0 ELSE
        least(9, greatest(0, CAST(floor((CAST(l_discount AS DOUBLE) - mn_d) * 10 / (mx_d - mn_d)) AS BIGINT))) END AS VARCHAR)),
    ('l_returnflag', coalesce(l_returnflag, '__null__'))
  ) AS u(col, bin)
),
nb AS (
  SELECT u.col AS "column", u.bin FROM n CROSS JOIN st
  CROSS JOIN LATERAL (VALUES
    ('l_quantity', CAST(CASE WHEN l_quantity IS NULL THEN -1 WHEN mx_q = mn_q THEN 0 ELSE
        least(9, greatest(0, CAST(floor((CAST(l_quantity AS DOUBLE) - mn_q) * 10 / (mx_q - mn_q)) AS BIGINT))) END AS VARCHAR)),
    ('l_extendedprice', CAST(CASE WHEN l_extendedprice IS NULL THEN -1 WHEN mx_e = mn_e THEN 0 ELSE
        least(9, greatest(0, CAST(floor((CAST(l_extendedprice AS DOUBLE) - mn_e) * 10 / (mx_e - mn_e)) AS BIGINT))) END AS VARCHAR)),
    ('l_discount', CAST(CASE WHEN l_discount IS NULL THEN -1 WHEN mx_d = mn_d THEN 0 ELSE
        least(9, greatest(0, CAST(floor((CAST(l_discount AS DOUBLE) - mn_d) * 10 / (mx_d - mn_d)) AS BIGINT))) END AS VARCHAR)),
    ('l_returnflag', coalesce(l_returnflag, '__null__'))
  ) AS u(col, bin)
),
oc AS (SELECT "column", bin, count(*) AS c_old FROM ob GROUP BY 1, 2),
nc AS (SELECT "column", bin, count(*) AS c_new FROM nb GROUP BY 1, 2),
j AS (
  SELECT coalesce(oc."column", nc."column") AS "column",
         coalesce(oc.bin, nc.bin) AS bin,
         coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
  FROM oc FULL OUTER JOIN nc ON oc."column" = nc."column" AND oc.bin = nc.bin
),
t AS (
  SELECT "column",
         CAST(round(abs(c_old / sum(c_old) OVER (PARTITION BY "column")
                      - c_new / sum(c_new) OVER (PARTITION BY "column")), 9)
              AS DECIMAL(28,9)) AS term
  FROM j
)
SELECT "column", CAST(sum(term) AS DOUBLE) / 2 AS tv FROM t GROUP BY "column"
""",
    # drift: 1-row min/max broadcast (a BroadcastNestedLoopJoin —
    # broadcast, but not the BroadcastHashJoin the rule matches) +
    # one scan per side (each a (column,bin) count agg) +
    # full-outer join of two tiny histogram frames +
    # |cols·bins|-row window — 5 exchanges, none data-sized after
    # the two counts
    audit={"max_shuffles": 5, "codegen": True, "no_python_udf": True},
)


def _mad_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # robust (50% breakdown) outlier screen — the heavy-tail-safe twin
    # of zscore_outliers; exact medians per the percentile parity rule
    from .operators.resample import mad_outliers

    return mad_outliers(load_table(spark, sf_dir, "events"))


_register(
    "mad_outliers",
    _mad_outliers_q,
    """
WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
j AS (SELECT e.event_id, e.event_type, e.value, m.med
      FROM events e JOIN med m USING (event_type)),
mad AS (SELECT event_type, median(abs(value - med)) AS mad FROM j GROUP BY 1),
j2 AS (SELECT j.*, mad.mad FROM j JOIN mad USING (event_type))
SELECT event_id, event_type, value, med, mad,
       CASE WHEN mad = 0 THEN NULL
            ELSE (0.6745 * (value - med)) / mad END AS mz
FROM j2
WHERE (mad = 0 AND value <> med)
   OR (mad > 0 AND abs((0.6745 * (value - med)) / mad) > 3.5)
""",
    # MAD: two tiny grouped medians broadcast back onto the scan —
    # the data-sized side never shuffles (3 exchanges: 2 stats aggs
    # + the med-join feeding the second agg)
    audit={"max_shuffles": 3, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _rolling_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # windowed EXACT median — absent from Spark's window aggregates;
    # sorted-array frame vs DuckDB's native windowed median oracle
    from .operators.resample import rolling_median

    return rolling_median(load_table(spark, sf_dir, "events"))


_register(
    "rolling_median",
    _rolling_median_q,
    """
SELECT event_id, user_id,
       median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
         AS rolling_med
FROM events
""",
    # rolling median: ONE keyed window exchange; per-row state is
    # the O(window) frame array, never a per-key global sort
    audit={"max_shuffles": 1, "codegen": True, "no_python_udf": True},
)


def _map_functions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Map-type function battery: construction, extraction, keys/values,
    # and map HOFs (map_filter / transform_values).  Outputs are
    # scalars; the oracle computes the same values with plain CASE
    # expressions — DuckDB's MAP surface lacks the HOFs, which is
    # exactly why the battery exercises them Spark-side.
    li = load_table(spark, sf_dir, "lineitem")
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity").cast("double"),
        F.lit("disc"), F.col("l_discount").cast("double"),
        F.lit("tax"), F.col("l_tax").cast("double"),
    )
    d = li.select("l_orderkey", "l_linenumber", m.alias("m"))
    return d.select(
        "l_orderkey",
        "l_linenumber",
        F.size("m").alias("n_entries"),
        F.element_at("m", F.lit("qty")).alias("qty"),
        F.concat_ws(",", F.array_sort(F.map_keys("m"))).alias("keys_sorted"),
        F.size(F.expr("map_filter(m, (k, v) -> v >= 0.05)")).alias("n_big"),
        F.element_at(
            F.expr("transform_values(m, (k, v) -> v * 2)"), F.lit("disc")
        ).alias("disc_x2"),
        F.expr(
            "aggregate(map_values(m), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        ).alias("vals_sum"),
    )


_register(
    "map_functions",
    _map_functions_q,
    """
SELECT l_orderkey, l_linenumber,
       CAST(3 AS INTEGER) AS n_entries,
       CAST(l_quantity AS DOUBLE) AS qty,
       'disc,qty,tax' AS keys_sorted,
       CAST((CASE WHEN CAST(l_quantity AS DOUBLE) >= 0.05 THEN 1 ELSE 0 END)
          + (CASE WHEN CAST(l_discount AS DOUBLE) >= 0.05 THEN 1 ELSE 0 END)
          + (CASE WHEN CAST(l_tax AS DOUBLE) >= 0.05 THEN 1 ELSE 0 END)
          AS INTEGER) AS n_big,
       CAST(l_discount AS DOUBLE) * 2 AS disc_x2,
       ((CAST(0.0 AS DOUBLE) + CAST(l_quantity AS DOUBLE))
          + CAST(l_discount AS DOUBLE)) + CAST(l_tax AS DOUBLE) AS vals_sum
FROM lineitem
""",
    # map HOF battery: pure narrow projection — zero exchanges
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _hash_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HashingTF featurization: dictionary-free text -> sparse L2 tf
    # vectors in long form; md5-hex bucket hash replays verbatim in SQL
    from .extensions.text import hash_features

    return hash_features(load_table(spark, sf_dir, "documents"))


_register(
    "hash_features",
    _hash_features_q,
    """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS bucket
  FROM t
),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY 1, 2)
SELECT doc_id, bucket,
       cnt / sqrt(CAST(sum(cnt * cnt) OVER (PARTITION BY doc_id) AS DOUBLE))
         AS weight
FROM c
""",
    # hashing-trick featurization: explode → doc_id repartition →
    # count agg + norm window both REUSE that one exchange
    audit={"max_shuffles": 1, "codegen": True, "no_python_udf": True},
)


def _check_constraints_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deequ-style declarative data-quality suite: every constraint
    # compiles into ONE aggregation over one scan — completeness,
    # PK uniqueness, ranges, set membership, and a cross-column
    # predicate, each reported as (constraint, violations, passed).
    from .operators.profile import check_constraints

    return check_constraints(
        load_table(spark, sf_dir, "lineitem"),
        [
            {"kind": "not_null", "col": "l_linestatus"},
            {"kind": "unique", "cols": ["l_orderkey", "l_linenumber"]},
            {"kind": "in_range", "col": "l_quantity", "lo": 1, "hi": 50},
            {"kind": "in_set", "col": "l_returnflag", "values": ["A", "N", "R"]},
            {
                "kind": "expr",
                "name": "ship_in_epoch",
                "predicate": "l_shipdate >= DATE '1992-01-01'",
            },
            # deliberately tight cap: exercises the violations>0 branch
            {
                "kind": "expr",
                "name": "quantity_cap_30",
                "predicate": "l_quantity <= 30",
            },
        ],
    )


_register(
    "check_constraints_lineitem",
    _check_constraints_lineitem,
    """
WITH m AS (
  SELECT count(*) AS n,
         sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS c0,
         count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS c1,
         sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS c2,
         sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                   AND l_returnflag IS NOT NULL THEN 1 ELSE 0 END) AS c3,
         sum(CASE WHEN l_shipdate >= DATE '1992-01-01' THEN 0 ELSE 1 END) AS c4,
         sum(CASE WHEN l_quantity <= 30 THEN 0 ELSE 1 END) AS c5
  FROM lineitem
)
SELECT 'not_null(l_linestatus)' AS constraint, 'not_null' AS kind, n AS n_rows,
       CAST(c0 AS BIGINT) AS n_violations, c0 = 0 AS passed FROM m
UNION ALL
SELECT 'unique(l_orderkey, l_linenumber)', 'unique', n,
       CAST(c1 AS BIGINT), c1 = 0 FROM m
UNION ALL
SELECT 'in_range(l_quantity, 1, 50)', 'in_range', n,
       CAST(c2 AS BIGINT), c2 = 0 FROM m
UNION ALL
SELECT 'in_set(l_returnflag)', 'in_set', n, CAST(c3 AS BIGINT), c3 = 0 FROM m
UNION ALL
SELECT 'ship_in_epoch', 'expr', n, CAST(c4 AS BIGINT), c4 = 0 FROM m
UNION ALL
SELECT 'quantity_cap_30', 'expr', n, CAST(c5 AS BIGINT), c5 = 0 FROM m
""",
    # Deequ-style suite: every constraint folds into ONE
    # aggregation (Expand partial -> final, 2 exchanges); a
    # per-constraint job loop would blow this budget immediately
    audit={"max_shuffles": 2, "codegen": True, "no_python_udf": True},
)


def _semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup (Abbas et al.): cluster-bucketed embedding near-dup
    # pruning — pairs compared only within a coarse-quantizer cluster,
    # higher id of any pair with cosine >= threshold drops.  The
    # deterministic lowest-id quantizer keeps the whole path (assign,
    # pair, threshold) SQL-replayable.
    from .extensions.similarity import semantic_dedup

    # threshold 0.3 ~ p99 of the fixture's in-bucket cosines: a real
    # drop set, not an all-kept no-op.
    # backend="gemm" (r12, guide §4.2): the in-bucket pair scoring runs
    # as ONE vectorized NumPy GEMM per bucket instead of an interpreted
    # expression-fold cosine per pair (~5× on this row).  Identical
    # output — both backends round cosines half-up to 9 decimals before
    # the threshold compare, and only (vec_id, bucket, is_kept) is
    # returned; equality vs the fold backend is pytest-asserted and the
    # row stays green against the brute-force DuckDB oracle.
    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.3,
        n_centroids=16,
        backend="gemm",
    )


_register(
    "semantic_dedup",
    _semantic_dedup_q,
    f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid,
         embedding::DOUBLE[] AS ctv
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
),
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
assigned AS (
  SELECT vec_id, cv, cid AS bucket FROM (
    SELECT c.vec_id, c.cv, ct.cid,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {_COSINE_SQL.format(a="c.cv", b="ct.ctv")} DESC, ct.cid) AS r
    FROM corpus c, cents ct
  ) WHERE r = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id AS d2
  FROM assigned a JOIN assigned b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round({_COSINE_SQL.format(a="a.cv", b="b.cv")}, 9) >= 0.3
)
SELECT a.vec_id, a.bucket, d.d2 IS NULL AS is_kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.d2
""",
    # SemDeDup: the pair search must be the bucket equi-join (two
    # keyed exchanges: bucket join + drop-set distinct) — a cross
    # product here would be corpus² at scale
    audit={"max_shuffles": 2},
)


def _multimodal_audio_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL end-to-end audio codec exercise with a closed-form oracle:
    # each doc becomes a ±A square-wave WAV (A and length derived from
    # doc_id), encoded and DECODED by the pure-NumPy RIFF/PCM codec,
    # then screened by extract_audio_features.  A square wave's
    # features are analytic — rms = peak = A, zcr = 1 — so DuckDB can
    # predict every output value without decoding a byte; rms rounds
    # to 9 digits on both sides (float-portability contract: the
    # pairwise-summed mean can drift a ulp from the analytic A).
    import pandas as pd

    from .extensions.multimodal import extract_audio_features

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_wav(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.wav import encode_wav

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                a = ((int(did) % 7) + 1) / 10.0
                n = 100 + int(did) % 50
                s = np.empty(n, dtype=np.float64)
                s[0::2] = a
                s[1::2] = -a
                payloads.append(encode_wav(s, 8000))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "media_type": "audio",
                    "payload": payloads,
                }
            )

    media = docs.mapInPandas(
        make_wav, schema="media_id long, media_type string, payload binary"
    )
    return extract_audio_features(media).select(
        "media_id",
        "sample_rate",
        "n_channels",
        "n_frames",
        "duration_s",
        F.round("rms", 9).alias("rms"),
        "peak",
        "zero_crossing_rate",
    )


_register(
    "multimodal_audio",
    _multimodal_audio_q,
    """
SELECT doc_id AS media_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(100 + doc_id % 50 AS BIGINT) AS n_frames,
       (100 + doc_id % 50) / 8000.0 AS duration_s,
       round(((doc_id % 7) + 1) / 10.0, 9) AS rms,
       ((doc_id % 7) + 1) / 10.0 AS peak,
       CAST(1.0 AS DOUBLE) AS zero_crossing_rate
FROM documents
""",
    # audio codec row: encode + decode + features are consecutive
    # Arrow kernels over the same rows — fully narrow, zero shuffle
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


#: multiplier LUT for the synthetic DCT images — every value is coprime
#: to 63, so {s·a+b mod 63 : s ∈ 1..63} is a bijection and each image
#: activates EXACTLY 32 of the 63 AC slots (32 land below 32).
_PHASH_AS = [1, 2, 4, 5, 8, 10, 11, 13, 16, 17]


def _phash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic 16-bit grayscale PNGs whose pHash is ANALYTIC:
    # each image is the inverse-DCT of a sparse coefficient grid —
    # groups of 7 consecutive doc_ids share one image (planted exact
    # duplicates), the active AC slots follow a modular rule on the
    # group id, and amplitudes rise with slot order.  The phash
    # median-threshold then selects precisely the active slots minus
    # the weakest, so DuckDB predicts all 63 bits without decoding a
    # byte; 16-bit samples keep quantization noise 256× below the
    # amplitude spacing (the margin that makes the bits exact).
    # Group-hash repartition before the kernel (r12, guide §2.5 input
    # skew): the sf-dir documents land in ONE input split, which would
    # serialize every PNG encode + the downstream phash decode on one
    # core — one tiny exchange of longs buys 32-way codec parallelism
    # while keeping each group's encode-cache hits task-local (the
    # same shape `_webp_phash_media` has had since r11).
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 7,
        )
    )

    def make_png(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.extensions.multimodal import _dct_matrix
        from atlas_upscaling_dask_spark.sources.png import encode_png

        m = _dct_matrix(32)
        cache: dict[int, bytes] = {}
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) - int(did) % 7
                if g not in cache:
                    a = _PHASH_AS[g % 10]
                    b = (g // 10) % 63
                    slots = sorted(
                        s for s in range(1, 64) if (s * a + b) % 63 < 32
                    )
                    c = np.zeros((32, 32))
                    c[0, 0] = 128.0 * 32
                    for rank, s in enumerate(slots):
                        u, v = divmod(s, 8)
                        c[u, v] = 10.0 + rank
                    img = m.T @ c @ m
                    cache[g] = encode_png(
                        np.round(img * 256).astype(np.uint16)
                    )
                payloads.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_png, schema="media_id long, payload binary")


_PHASH_HASHES_CTE = """
p AS (SELECT doc_id, doc_id - doc_id % 7 AS g FROM documents),
par AS (
  SELECT doc_id,
         ([1,2,4,5,8,10,11,13,16,17])[CAST(g % 10 AS INTEGER) + 1] AS a,
         (g // 10) % 63 AS b
  FROM p
),
slots AS (
  SELECT doc_id, s.range AS s FROM par, range(1, 64) s
  WHERE ((s.range * a + b) % 63) < 32
),
hs AS (
  SELECT doc_id,
         CAST(sum(1::BIGINT << CAST(s - 1 AS INTEGER))
              - (1::BIGINT << CAST(min(s) - 1 AS INTEGER)) AS BIGINT) AS phash
  FROM slots GROUP BY doc_id
)
"""


def _image_phash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: synthesize PNG → pure-NumPy decode → box resize →
    # 2-D DCT → median-threshold hash; the oracle computes every bit
    # analytically from the coefficient rule.
    from .extensions.multimodal import image_phash

    return image_phash(_phash_media(spark, sf_dir))


_register(
    "image_phash_values",
    _image_phash_values,
    f"""
WITH {_PHASH_HASHES_CTE.strip()}
SELECT doc_id AS media_id, phash FROM hs
""",
    # pHash: decode → DCT → hash is ONE narrow Arrow pass after the
    # single group-hash exchange of the one-split doc_id frame
    # (r12 — partition-from-work, same shape as image_phash_webp:
    # the exchange moves 8-byte ids, never payloads)
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pHash → multi-index Hamming join (8 bands × 8 bits): pairs within
    # distance 7 MUST share a band (pigeonhole), so candidates come
    # from an equi-join, never all-pairs.  The oracle is brute-force
    # all-pairs over the analytic hashes — it checks both the hash bits
    # and the band join's completeness guarantee.
    from .extensions.dedup import hamming_near_dup
    from .extensions.multimodal import image_phash

    return hamming_near_dup(image_phash(_phash_media(spark, sf_dir)))


_register(
    "image_phash_neardup",
    _image_phash_neardup,
    f"""
WITH {_PHASH_HASHES_CTE.strip()}
SELECT h1.doc_id AS d1, h2.doc_id AS d2,
       CAST(bit_count(xor(h1.phash, h2.phash)) AS INTEGER) AS hamming
FROM hs h1 JOIN hs h2 ON h1.doc_id < h2.doc_id
WHERE bit_count(xor(h1.phash, h2.phash)) <= 7
""",
    # multi-index Hamming join: band equi-join + pair distinct —
    # never an all-pairs product (budget covers the non-broadcast
    # shape; at sf the band sides broadcast → measured 1).  No
    # spread_exchanges rule: hamming_near_dup localCheckpoints its
    # input, so the fixture's group-hash id exchange sits behind
    # the checkpoint and never appears in this plan
    audit={"max_shuffles": 3},
)


def _image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full image-dedup composition: pHash → multi-index Hamming pairs →
    # connected components → keep/drop clusters, the image twin of
    # `dedup_clusters`; the oracle recomputes the clusters from the
    # analytic hashes with a recursive min-label CTE.
    from .extensions.dedup import hamming_near_dup, near_dup_clusters
    from .extensions.multimodal import image_phash

    h = image_phash(_phash_media(spark, sf_dir))
    pairs = hamming_near_dup(h)
    return near_dup_clusters(
        h.select(F.col("media_id").alias("doc_id")), pairs
    ).select(
        F.col("doc_id").alias("media_id"), "cluster_id", "is_keeper"
    )


_register(
    "image_dup_clusters",
    _image_dup_clusters,
    f"""
WITH RECURSIVE {_PHASH_HASHES_CTE.strip()},
pr AS (
  SELECT h1.doc_id AS d1, h2.doc_id AS d2
  FROM hs h1 JOIN hs h2 ON h1.doc_id < h2.doc_id
  WHERE bit_count(xor(h1.phash, h2.phash)) <= 7
),
und AS (SELECT d1 AS a, d2 AS b FROM pr UNION SELECT d2, d1 FROM pr),
prop AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT u.a AS id, p.comp
  FROM prop p JOIN und u ON u.b = p.id
)
SELECT id AS media_id, min(comp) AS cluster_id, min(comp) = id AS is_keeper
FROM prop GROUP BY id
""",
)


def _phash_media_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The JPEG twin of `_phash_media`: SAME slot-activation rule, so the
    # SAME analytic oracle CTE predicts all 63 bits — but the image is
    # 8-bit and rides through the from-spec baseline JPEG codec
    # (sources/jpeg.py, unit quantization tables).  8-bit + JPEG needs
    # hardened margins: the weakest slot carries 24, the rest 56, so
    # the median pins to the weakest with ≥12 coefficient units of
    # headroom over the measured unit-quant noise (std ~0.4) —
    # tests/test_jpeg.py proves the hash EXACT for all 630 patterns.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 7,
        )
    )

    def make_jpeg(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.extensions.multimodal import _dct_matrix
        from atlas_upscaling_dask_spark.sources.jpeg import encode_jpeg

        m = _dct_matrix(32)
        ones = (np.ones((8, 8), np.int64), np.ones((8, 8), np.int64))
        cache: dict[int, bytes] = {}
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) - int(did) % 7
                if g not in cache:
                    a = _PHASH_AS[g % 10]
                    b = (g // 10) % 63
                    slots = sorted(
                        s for s in range(1, 64) if (s * a + b) % 63 < 32
                    )
                    c = np.zeros((32, 32))
                    c[0, 0] = 128.0 * 32
                    for rank, s in enumerate(slots):
                        u, v = divmod(s, 8)
                        c[u, v] = 24.0 if rank == 0 else 56.0
                    img = np.round(m.T @ c @ m).astype(np.uint8)
                    cache[g] = encode_jpeg(img, quant_tables=ones)
                payloads.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_jpeg, schema="media_id long, payload binary")


def _image_phash_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL JPEG pipeline: synthesize baseline JPEG → from-spec Huffman +
    # iDCT decode → box resize → 2-D DCT → median-threshold hash; the
    # oracle computes every bit analytically from the coefficient rule
    # (same CTE as the PNG row — the rule is format-independent).
    from .extensions.multimodal import image_phash

    return image_phash(_phash_media_jpeg(spark, sf_dir))


_register(
    "image_phash_jpeg",
    _image_phash_jpeg,
    f"""
WITH {_PHASH_HASHES_CTE.strip()}
SELECT doc_id AS media_id, phash FROM hs
""",
    # the JPEG twin: from-spec Huffman+iDCT decode inside the same
    # single narrow Arrow pass — format changes, plan shape doesn't
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _jpeg_decode_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bit-exact JPEG decode proof for the driver gate: per doc, a 16×16
    # grayscale JPEG of four BLOCK-CONSTANT 8×8 tiles (DC-only blocks
    # with q00 = 8 decode losslessly: sample = DC_quantized + 128,
    # T.81 A.3.3), encoded with restart_interval=1 so every image
    # exercises RST segmentation and predictor resets.  The query
    # decodes and reads back one pixel per tile — the oracle predicts
    # all four values from the doc_id rule without touching a byte.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def kernel(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        q8 = (np.full((8, 8), 8, np.int64), np.full((8, 8), 8, np.int64))
        for pdf in batches:
            rows = {"media_id": [], "v00": [], "v01": [], "v10": [], "v11": []}
            for did in pdf["doc_id"]:
                d = int(did)
                vals = np.array(
                    [
                        [d % 256, (d * 7 + 13) % 256],
                        [255 - d % 256, (d // 3) % 256],
                    ],
                    dtype=np.uint8,
                )
                img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                dec = decode_jpeg(
                    encode_jpeg(img, quant_tables=q8, restart_interval=1)
                )
                rows["media_id"].append(d)
                rows["v00"].append(int(dec[0, 0]))
                rows["v01"].append(int(dec[0, 8]))
                rows["v10"].append(int(dec[8, 0]))
                rows["v11"].append(int(dec[8, 8]))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(rows["media_id"], dtype="int64"),
                    "v00": pd.array(rows["v00"], dtype="int32"),
                    "v01": pd.array(rows["v01"], dtype="int32"),
                    "v10": pd.array(rows["v10"], dtype="int32"),
                    "v11": pd.array(rows["v11"], dtype="int32"),
                }
            )

    return docs.mapInPandas(
        kernel,
        schema="media_id long, v00 int, v01 int, v10 int, v11 int",
    )


_JPEG_BLOCKS_SQL = """
SELECT doc_id AS media_id,
       CAST(doc_id % 256 AS INTEGER) AS v00,
       CAST((doc_id * 7 + 13) % 256 AS INTEGER) AS v01,
       CAST(255 - doc_id % 256 AS INTEGER) AS v10,
       CAST((doc_id // 3) % 256 AS INTEGER) AS v11
FROM documents
"""

_register(
    "jpeg_decode_blocks",
    _jpeg_decode_blocks,
    _JPEG_BLOCKS_SQL,
    # bit-exact JPEG decode gate row: encode → decode → project,
    # one narrow pass, nothing moves
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _jpeg_decode_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The PROGRESSIVE twin of `jpeg_decode_blocks`: the same DC-only
    # block-constant images, emitted as SOF2 streams (interleaved DC
    # first scan at Al=1, DC refinement, per-band AC scans with EOB
    # runs — T.81 Annex G).  Progressive reorganizes the identical
    # quantized coefficients, so the decode is equally LOSSLESS and the
    # SAME closed-form oracle predicts every pixel.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def kernel(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        q8 = (np.full((8, 8), 8, np.int64), np.full((8, 8), 8, np.int64))
        for pdf in batches:
            rows = {"media_id": [], "v00": [], "v01": [], "v10": [], "v11": []}
            for did in pdf["doc_id"]:
                d = int(did)
                vals = np.array(
                    [
                        [d % 256, (d * 7 + 13) % 256],
                        [255 - d % 256, (d // 3) % 256],
                    ],
                    dtype=np.uint8,
                )
                img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                dec = decode_jpeg(
                    encode_jpeg(img, quant_tables=q8, progressive=True)
                )
                rows["media_id"].append(d)
                rows["v00"].append(int(dec[0, 0]))
                rows["v01"].append(int(dec[0, 8]))
                rows["v10"].append(int(dec[8, 0]))
                rows["v11"].append(int(dec[8, 8]))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(rows["media_id"], dtype="int64"),
                    "v00": pd.array(rows["v00"], dtype="int32"),
                    "v01": pd.array(rows["v01"], dtype="int32"),
                    "v10": pd.array(rows["v10"], dtype="int32"),
                    "v11": pd.array(rows["v11"], dtype="int32"),
                }
            )

    return docs.mapInPandas(
        kernel,
        schema="media_id long, v00 int, v01 int, v10 int, v11 int",
    )


_register(
    "jpeg_decode_progressive",
    _jpeg_decode_progressive,
    _JPEG_BLOCKS_SQL,
    # progressive (SOF2) decode gate row: same narrow single pass
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _jpeg_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Header-only metadata profiling: per doc, a real encoded JPEG at a
    # doc_id-derived geometry; the query answers (width, height,
    # n_components) from the MARKER WALK alone (parse_jpeg_info — no
    # entropy decode), the planning-side op a 100 TB image-corpus
    # profile runs before deciding what to decode.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def kernel(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.jpeg import (
            encode_jpeg,
            parse_jpeg_info,
        )

        cache: dict[tuple, bytes] = {}
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [], "n_components": []}
            for did in pdf["doc_id"]:
                d = int(did)
                w, h = 8 + d % 40, 8 + (d * 3) % 56
                color = d % 2 == 1
                key = (w, h, color)
                if key not in cache:
                    img = np.zeros((h, w, 3) if color else (h, w), np.uint8)
                    cache[key] = encode_jpeg(img, quality=50)
                info = parse_jpeg_info(cache[key])
                out["media_id"].append(d)
                out["width"].append(info["width"])
                out["height"].append(info["height"])
                out["n_components"].append(info["n_components"])
            yield pd.DataFrame(
                {
                    "media_id": pd.array(out["media_id"], dtype="int64"),
                    "width": pd.array(out["width"], dtype="int32"),
                    "height": pd.array(out["height"], dtype="int32"),
                    "n_components": pd.array(out["n_components"], dtype="int32"),
                }
            )

    return docs.mapInPandas(
        kernel,
        schema="media_id long, width int, height int, n_components int",
    )


_register(
    "jpeg_dims",
    _jpeg_dims,
    """
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 40 AS INTEGER) AS width,
       CAST(8 + (doc_id * 3) % 56 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS INTEGER)
         AS n_components
FROM documents
""",
    # header-only image profiling: marker walk, no entropy decode,
    # one narrow pass
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _gif_phash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The GIF twin of `_phash_media`: the same modular-slot DCT
    # construction, but 8-bit (GIF is palette-indexed uint8) with the
    # amplitude pair (24, 56) whose clip-free, bit-exact margin the
    # JPEG tests prove over every (a, b); the weakest slot (rank 0,
    # amplitude 24) IS the median, so the hash drops exactly that bit
    # — the same formula `_PHASH_HASHES_CTE` computes.
    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so GIF LZW encode/decode runs on every core, groups staying
    # task-local for the encode cache (see `_phash_media`).
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 7,
        )
    )

    def make_gif(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.extensions.multimodal import _dct_matrix
        from atlas_upscaling_dask_spark.sources.gif import encode_gif

        m = _dct_matrix(32)
        cache: dict[int, bytes] = {}
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) - int(did) % 7
                if g not in cache:
                    a = _PHASH_AS[g % 10]
                    b = (g // 10) % 63
                    slots = sorted(
                        s for s in range(1, 64) if (s * a + b) % 63 < 32
                    )
                    c = np.zeros((32, 32))
                    c[0, 0] = 128.0 * 32
                    for rank, s in enumerate(slots):
                        u, v = divmod(s, 8)
                        c[u, v] = 24.0 if rank == 0 else 56.0
                    u8 = np.round(m.T @ c @ m).astype(np.uint8)
                    cache[g] = encode_gif(np.repeat(u8[..., None], 3, axis=2))
                payloads.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_gif, schema="media_id long, payload binary")


def _gif_phash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: synthesize GIF → from-spec LZW decode + palette →
    # box resize → DCT → median-threshold hash; the oracle predicts
    # every bit analytically (same truth as the PNG pipeline — two
    # codecs, one answer).
    from .extensions.multimodal import image_phash

    return image_phash(_gif_phash_media(spark, sf_dir))


_register(
    "gif_phash_values",
    _gif_phash_values,
    f"""
WITH {_PHASH_HASHES_CTE.strip()}
SELECT doc_id AS media_id, phash FROM hs
""",
    # the GIF twin: from-spec LZW decode + palette lookup inside
    # the same narrow Arrow pass, after the one group-hash id
    # exchange (r12 — see image_phash_values)
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _webp_phash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The WebP twin of `_gif_phash_media`: the same 8-bit modular-slot
    # DCT construction with the proven (24, 56) amplitude pair,
    # encoded as REAL VP8L lossless bitstreams (subtract-green
    # transform on, so the full transform + prefix-code decode path
    # runs, not just the literal fast case).  The doc_id frame is
    # repartitioned BY GROUP before the kernel: sf-dir documents land
    # in one input split, which would serialize the per-symbol VP8L
    # work on one core — group-hash partitioning spreads it 32-way
    # while keeping each group's encode-cache hits local (one tiny
    # exchange of longs buys parallel codec work; the distributed
    # shape a real media corpus has for free).
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32, F.col("doc_id") - F.col("doc_id") % 7)
    )

    def make_webp(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.extensions.multimodal import _dct_matrix
        from atlas_upscaling_dask_spark.sources.webp import (
            encode_webp_lossless,
        )

        m = _dct_matrix(32)
        cache: dict[int, bytes] = {}
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) - int(did) % 7
                if g not in cache:
                    a = _PHASH_AS[g % 10]
                    b = (g // 10) % 63
                    slots = sorted(
                        s for s in range(1, 64) if (s * a + b) % 63 < 32
                    )
                    c = np.zeros((32, 32))
                    c[0, 0] = 128.0 * 32
                    for rank, s in enumerate(slots):
                        c[divmod(s, 8)] = 24.0 if rank == 0 else 56.0
                    u8 = np.round(m.T @ c @ m).astype(np.uint8)
                    cache[g] = encode_webp_lossless(u8, subtract_green=True)
                payloads.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_webp, schema="media_id long, payload binary")


def _image_phash_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: synthesize lossless WebP → from-spec VP8L prefix
    # decode + subtract-green inverse → box resize → DCT →
    # median-threshold hash; the oracle predicts every bit analytically
    # (the same truth the PNG/GIF/JPEG pipelines hash to — four
    # codecs, one answer).
    from .extensions.multimodal import image_phash

    return image_phash(_webp_phash_media(spark, sf_dir))


_register(
    "image_phash_webp",
    _image_phash_webp,
    f"""
WITH {_PHASH_HASHES_CTE.strip()}
SELECT doc_id AS media_id, phash FROM hs
""",
    # VP8L decode through the DCT hash: ONE group-hash exchange
    # (codec parallelism from the work, not the file layout), then
    # kernel-only
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _webp_anim_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4-frame animated WebP (VP8X/ANIM/ANMF with REAL VP8L frames),
    # groups of 5 docs share a clip: frame f of group g is the CONSTANT
    # color 5 + (7g + 13f) % 120 over a 10x12 canvas (replace, no
    # dispose, white background, loop 2) — every composited frame is a
    # known constant raster, the same analytic truth as the GIF clip
    # fixture.  Same partition-from-work shape as `_webp_phash_media`:
    # the sf-dir documents table is one input split, so without the
    # group-hash repartition every ANMF encode would serialize on one
    # core (the exact 15.6 s lesson `image_phash_webp` paid for).
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32, F.col("doc_id") - F.col("doc_id") % 5)
    )

    def make_webp(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.webp import (
            encode_webp_animated,
        )

        cache: dict[int, bytes] = {}
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) - int(did) % 5
                if g not in cache:
                    colors = [5 + (7 * g + 13 * f) % 120 for f in range(4)]
                    frames = [
                        np.full((10, 12, 3), c, np.uint8) for c in colors
                    ]
                    cache[g] = encode_webp_animated(
                        frames,
                        durations_ms=[100 * (f + 1) for f in range(4)],
                        loop=2,
                    )
                payloads.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_webp, schema="media_id long, payload binary")


def _webp_anim_frame_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: animated-WebP synth → VP8L decode + ANMF
    # compositing → sampled-frame SHA-256 over the composited RGB
    # canvas; the oracle hashes the same constant byte runs in SQL
    # (two containers, GIF and WebP, one compositing truth).
    from .extensions.multimodal import extract_frames

    media = _webp_anim_media(spark, sf_dir).select(
        "media_id",
        F.lit("video").alias("media_type"),
        "payload",
        F.named_struct(
            F.lit("width"), F.lit(12),
            F.lit("height"), F.lit(10),
            F.lit("sample_rate"), F.lit(None).cast("int"),
            F.lit("n_frames"), F.lit(4),
            F.lit("codec"), F.lit("webp"),
        ).alias("meta"),
    )
    return extract_frames(media, every_n=2, fake=False)


_register(
    "webp_anim_frame_digests",
    _webp_anim_frame_digests,
    """
SELECT doc_id AS media_id,
       CAST(f.range AS INTEGER) AS frame_idx,
       CAST(360 AS BIGINT) AS n_bytes,
       sha256(repeat(chr(CAST(
           5 + (7 * (doc_id - doc_id % 5) + 13 * f.range) % 120
           AS INTEGER)), 360)) AS sha256
FROM documents, range(0, 4, 2) f
""",
    # animated WebP compositing digests: ONE group-hash exchange
    # (r10 verdict #6: the partition-from-work lesson applied —
    # the sf-dir documents table is one input split, and without
    # the repartition every ANMF kernel would serialize on a core)
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _webp_lossy_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Groups of 5 docs share a 32x32 LOSSY (VP8) keyframe whose
    # 4x4-block luma grid is V(g,bi,bj) = 5 + (7g + 17bi + 29bj) % 200
    # — the decoded raster is EXACT by construction (sources/vp8.py
    # encode_vp8_gray_blocks: B_DC_PRED chain + DC-only residuals at
    # qindex 0 reconstruct with zero error), so any pixel digest is
    # analytic.  Group-hash repartition from the one-split documents
    # table (the partition-from-work lesson, SCALE.md round 10).
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32, F.col("doc_id") - F.col("doc_id") % 5)
    )

    def make_webp(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.webp import (
            encode_webp_lossy_gray_blocks,
        )

        cache: dict[int, bytes] = {}
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) - int(did) % 5
                if g not in cache:
                    bi = np.arange(8).reshape(8, 1)
                    bj = np.arange(8).reshape(1, 8)
                    bv = 5 + (7 * g + 17 * bi + 29 * bj) % 200
                    cache[g] = encode_webp_lossy_gray_blocks(bv)
                payloads.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_webp, schema="media_id long, payload binary")


def _webp_lossy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: RFC 6386 keyframe decode (boolean decoder, intra
    # B_DC prediction chain, dequant + DC-only iDCT, YUV->RGB gray
    # identity) → position-weighted luma checksum; the oracle
    # recomputes the checksum from the analytic block formula in SQL.
    media = _webp_lossy_media(spark, sf_dir)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from atlas_upscaling_dask_spark.sources.webp import decode_webp

        x = np.arange(32).reshape(1, 32)
        yy = np.arange(32).reshape(32, 1)
        wgt = 1 + (7 * x + 13 * yy) % 31
        cache: dict[int, int] = {}
        for pdf in batches:
            sums = []
            for did, payload in zip(pdf["media_id"], pdf["payload"]):
                g = int(did) - int(did) % 5
                if g not in cache:
                    img = decode_webp(bytes(payload))
                    cache[g] = int(
                        (img[:, :, 0].astype(np.int64) * wgt).sum()
                    )
                sums.append(cache[g])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "y_checksum": pd.array(sums, dtype="int64"),
                }
            )

    return media.mapInPandas(kernel, schema="media_id long, y_checksum long")


_register(
    "webp_lossy_decode",
    _webp_lossy_decode,
    """
SELECT d.doc_id AS media_id,
       CAST(SUM(
           (5 + (7 * (d.doc_id - d.doc_id % 5)
                 + 17 * (p.y // 4) + 29 * (p.x // 4)) % 200)
           * (1 + (7 * p.x + 13 * p.y) % 31)
       ) AS BIGINT) AS y_checksum
FROM documents d,
     (SELECT xs.range AS x, ys.range AS y
      FROM range(0, 32) xs, range(0, 32) ys) p
GROUP BY d.doc_id
""",
    # VP8 lossy keyframe decode digest: same shape — one
    # group-hash exchange, then kernel-only
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _webp_lossy_alpha_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lossy-with-alpha stills (VP8X + ALPH + VP8): the ALPH chunk is
    # lossless-compressed (headerless VP8L stream, alpha in green)
    # under the GRADIENT filter, the color plane is the same analytic
    # VP8 keyframe as webp_lossy_decode; alpha A(g,x,y) =
    # (11g + 3x + 5y) % 256.  Both planes digest analytically.
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32, F.col("doc_id") - F.col("doc_id") % 5)
    )

    def kernel(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.webp import (
            decode_webp_rgba,
            encode_webp_lossy_alpha,
        )

        x = np.arange(32).reshape(1, 32)
        yy = np.arange(32).reshape(32, 1)
        wgt_y = 1 + (7 * x + 13 * yy) % 31
        wgt_a = 1 + (5 * x + 11 * yy) % 29
        bi = np.arange(8).reshape(8, 1)
        bj = np.arange(8).reshape(1, 8)
        cache: dict[int, tuple[int, int]] = {}
        for pdf in batches:
            ys, als = [], []
            for did in pdf["doc_id"]:
                g = int(did) - int(did) % 5
                if g not in cache:
                    bv = 5 + (7 * g + 17 * bi + 29 * bj) % 200
                    alpha = ((11 * g + 3 * x + 5 * yy) % 256).astype(
                        np.uint8
                    )
                    data = encode_webp_lossy_alpha(bv, alpha, filtering=3)
                    rgba = decode_webp_rgba(data)
                    cache[g] = (
                        int((rgba[:, :, 0].astype(np.int64) * wgt_y).sum()),
                        int((rgba[:, :, 3].astype(np.int64) * wgt_a).sum()),
                    )
                ys.append(cache[g][0])
                als.append(cache[g][1])
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "y_checksum": pd.array(ys, dtype="int64"),
                    "alpha_checksum": pd.array(als, dtype="int64"),
                }
            )

    return docs.mapInPandas(
        kernel,
        schema="media_id long, y_checksum long, alpha_checksum long",
    )


_register(
    "webp_lossy_alpha_digest",
    _webp_lossy_alpha_digest,
    """
SELECT d.doc_id AS media_id,
       CAST(SUM(
           (5 + (7 * (d.doc_id - d.doc_id % 5)
                 + 17 * (p.y // 4) + 29 * (p.x // 4)) % 200)
           * (1 + (7 * p.x + 13 * p.y) % 31)
       ) AS BIGINT) AS y_checksum,
       CAST(SUM(
           ((11 * (d.doc_id - d.doc_id % 5) + 3 * p.x + 5 * p.y) % 256)
           * (1 + (5 * p.x + 11 * p.y) % 29)
       ) AS BIGINT) AS alpha_checksum
FROM documents d,
     (SELECT xs.range AS x, ys.range AS y
      FROM range(0, 32) xs, range(0, 32) ys) p
GROUP BY d.doc_id
""",
    # lossy-with-alpha stills (ALPH + VP8): one group-hash
    # exchange, then kernel-only
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _gif_anim_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4-frame animated GIFs, groups of 5 docs share a clip: frame f of
    # group g is the CONSTANT color 5 + (7g + 13f) % 120 over a 10x12
    # canvas (disposal "keep", delay 10(f+1) cs, loop 3) — every
    # composited frame is a known constant raster, so digests, sizes
    # and header fields are all analytic.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_gif(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.gif import encode_gif

        cache: dict[int, bytes] = {}
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) - int(did) % 5
                if g not in cache:
                    colors = [5 + (7 * g + 13 * f) % 120 for f in range(4)]
                    frames = [
                        np.full((10, 12, 3), c, np.uint8) for c in colors
                    ]
                    cache[g] = encode_gif(
                        frames,
                        disposals=[1] * 4,
                        delays_cs=[10 * (f + 1) for f in range(4)],
                        loop=3,
                    )
                payloads.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_gif, schema="media_id long, payload binary")


def _gif_anim_frame_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: animated-GIF synth → sequential LZW decode +
    # compositing → sampled-frame SHA-256 over the composited RGB
    # canvas; the oracle hashes the same constant byte runs in SQL.
    from .extensions.multimodal import extract_frames

    media = _gif_anim_media(spark, sf_dir).select(
        "media_id",
        F.lit("video").alias("media_type"),
        "payload",
        F.named_struct(
            F.lit("width"), F.lit(12),
            F.lit("height"), F.lit(10),
            F.lit("sample_rate"), F.lit(None).cast("int"),
            F.lit("n_frames"), F.lit(4),
            F.lit("codec"), F.lit("gif"),
        ).alias("meta"),
    )
    return extract_frames(media, every_n=2, fake=False)


_register(
    "gif_anim_frame_digests",
    _gif_anim_frame_digests,
    """
SELECT doc_id AS media_id,
       CAST(f.range AS INTEGER) AS frame_idx,
       CAST(360 AS BIGINT) AS n_bytes,
       sha256(repeat(chr(CAST(
           5 + (7 * (doc_id - doc_id % 5) + 13 * f.range) % 120
           AS INTEGER)), 360)) AS sha256
FROM documents, range(0, 4, 2) f
""",
    # animated-GIF frame sampling: sequential composite per payload
    # but still ONE narrow pass over the corpus — no exchange
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _gif_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Header-only metadata profiling (the GIF twin of `jpeg_dims`):
    # block walk + frame census, NO LZW work — the planning-side pass a
    # 100 TB GIF corpus runs before deciding what to decode.
    import pandas as pd

    media = _gif_anim_media(spark, sf_dir)

    def kernel(batches):
        from atlas_upscaling_dask_spark.sources.gif import parse_gif_info

        for pdf in batches:
            rows = {
                "media_id": [], "width": [], "height": [], "n_frames": [],
                "animated": [], "loop_count": [], "total_delay_cs": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                info = parse_gif_info(bytes(payload))
                rows["media_id"].append(int(mid))
                rows["width"].append(info["width"])
                rows["height"].append(info["height"])
                rows["n_frames"].append(info["n_frames"])
                rows["animated"].append(info["animated"])
                rows["loop_count"].append(info["loop_count"])
                rows["total_delay_cs"].append(info["total_delay_cs"])
            yield pd.DataFrame(
                {
                    "media_id": pd.array(rows["media_id"], dtype="int64"),
                    "width": pd.array(rows["width"], dtype="int32"),
                    "height": pd.array(rows["height"], dtype="int32"),
                    "n_frames": pd.array(rows["n_frames"], dtype="int32"),
                    "animated": pd.array(rows["animated"], dtype="bool"),
                    "loop_count": pd.array(rows["loop_count"], dtype="int32"),
                    "total_delay_cs": pd.array(
                        rows["total_delay_cs"], dtype="int32"
                    ),
                }
            )

    return media.mapInPandas(
        kernel,
        schema="media_id long, width int, height int, n_frames int, "
        "animated boolean, loop_count int, total_delay_cs int",
    )


_register(
    "gif_info",
    _gif_info,
    """
SELECT doc_id AS media_id,
       CAST(12 AS INTEGER) AS width,
       CAST(10 AS INTEGER) AS height,
       CAST(4 AS INTEGER) AS n_frames,
       true AS animated,
       CAST(3 AS INTEGER) AS loop_count,
       CAST(100 AS INTEGER) AS total_delay_cs
FROM documents
""",
    # header-only GIF profiling: block walk, no LZW work, narrow
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


#: frame-period LUT for the synthetic spectral fixtures: all divide the
#: 256-sample frame, so each frame's dominant DFT bin is EXACTLY 256/p.
_AFP_PERIODS = [4, 8, 16, 32, 64, 128]
_AFP_POW6 = [6 ** i for i in range(9)]


def _afp_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-frame square waves whose periods follow the base-6 digits of
    # the 5-doc group id: the spectral fingerprint is ANALYTIC (bin i =
    # 256 / period of digit i), groups of 5 docs share a clip (planted
    # duplicates), float64 WAV encoding makes the roundtrip lossless.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_wav(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.wav import encode_wav

        j = np.arange(256)
        cache: dict[int, bytes] = {}
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) - int(did) % 5
                if g not in cache:
                    a = ((g % 7) + 1) / 10.0
                    segs = []
                    for i in range(9):
                        p = _AFP_PERIODS[(g // _AFP_POW6[i]) % 6]
                        segs.append(np.where((j % p) < p // 2, a, -a))
                    cache[g] = encode_wav(np.concatenate(segs), 8000)
                payloads.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_wav, schema="media_id long, payload binary")


_AFP_HASHES_CTE = """
p AS (SELECT doc_id, doc_id - doc_id % 5 AS g FROM documents),
d AS (
  SELECT doc_id, i.range AS i,
         256 // ([4,8,16,32,64,128])[CAST((g // ([1,6,36,216,1296,7776,46656,279936,1679616])[CAST(i.range AS INTEGER) + 1]) % 6 AS INTEGER) + 1] AS b
  FROM p, range(9) i
),
hs AS (
  SELECT doc_id,
         CAST(sum((b::BIGINT) << CAST(7 * i AS INTEGER)) AS BIGINT) AS afp
  FROM d GROUP BY doc_id
)
"""


def _audio_fingerprint_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: synthesize WAV → pure-NumPy RIFF decode → per-frame
    # DFT → dominant-bin fingerprint; the oracle computes every 7-bit
    # field analytically from the period rule.
    from .extensions.multimodal import audio_fingerprint

    return audio_fingerprint(_afp_media(spark, sf_dir))


_register(
    "audio_fingerprint_values",
    _audio_fingerprint_values,
    f"""
WITH {_AFP_HASHES_CTE.strip()}
SELECT doc_id AS media_id, afp FROM hs
""",
    # spectral fingerprinting: synth + decode + DFT in ONE narrow
    # Arrow pass — zero exchanges, like its image twin
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spectral fingerprints through the SAME multi-index Hamming join
    # as images — the fingerprint family's modality symmetry, oracle =
    # brute-force all-pairs over the analytic fingerprints
    from .extensions.dedup import hamming_near_dup
    from .extensions.multimodal import audio_fingerprint

    # max_hamming=1: distinct dominant bins are powers of two, so ANY
    # single-frame spectral change already costs 2 bits — the tight
    # bound keeps only true re-encodes of the same clip (and distance
    # 1 is parity-impossible, so this is exact-match dedup with the
    # same banded join the looser thresholds use)
    return hamming_near_dup(
        audio_fingerprint(_afp_media(spark, sf_dir)),
        max_hamming=1,
        hash_col="afp",
    )


_register(
    "audio_near_dup",
    _audio_near_dup,
    f"""
WITH {_AFP_HASHES_CTE.strip()}
SELECT h1.doc_id AS d1, h2.doc_id AS d2,
       CAST(bit_count(xor(h1.afp, h2.afp)) AS INTEGER) AS hamming
FROM hs h1 JOIN hs h2 ON h1.doc_id < h2.doc_id
WHERE bit_count(xor(h1.afp, h2.afp)) <= 1
""",
)


def _video_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4-frame multi-page TIFF "videos": frame f of group g uses the
    # DCT-sparse construction of `_phash_media` with parameters
    # (a, b) = (AS[(g+f) % 10], (g//10 + 3f) % 63) — every frame hash
    # is analytic, groups of 5 docs share a clip.
    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so TIFF encode/decode runs on every core (see `_phash_media`).
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_tiff(batches):
        import os
        import tempfile

        import numpy as np

        from atlas_upscaling_dask_spark.extensions.multimodal import _dct_matrix
        from atlas_upscaling_dask_spark.sources import tiff as tiffmod

        m = _dct_matrix(32)
        cache: dict[int, bytes] = {}
        tmpdir = tempfile.mkdtemp(prefix="vidsynth_")
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) - int(did) % 5
                if g not in cache:
                    frames = []
                    for f in range(4):
                        a = _PHASH_AS[(g + f) % 10]
                        b = (g // 10 + 3 * f) % 63
                        slots = sorted(
                            s for s in range(1, 64) if (s * a + b) % 63 < 32
                        )
                        c = np.zeros((32, 32))
                        c[0, 0] = 128.0 * 32
                        for rank, sl in enumerate(slots):
                            u, v = divmod(sl, 8)
                            c[u, v] = 10.0 + rank
                        frames.append(
                            np.round((m.T @ c @ m) * 256).astype(np.uint16)
                        )
                    path = os.path.join(tmpdir, f"g{g}.tif")
                    tiffmod.write_tiff(path, np.stack(frames))
                    with open(path, "rb") as fh:
                        cache[g] = fh.read()
                    os.unlink(path)
                payloads.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_tiff, schema="media_id long, payload binary")


_VIDEO_HASHES_CTE = """
p AS (SELECT doc_id, doc_id - doc_id % 5 AS g FROM documents),
pf AS (
  SELECT doc_id, g, f.range AS f,
         ([1,2,4,5,8,10,11,13,16,17])[CAST((g + f.range) % 10 AS INTEGER) + 1] AS a,
         (g // 10 + 3 * f.range) % 63 AS b
  FROM p, range(4) f
),
slots AS (
  SELECT doc_id, f, s.range AS s FROM pf, range(1, 64) s
  WHERE ((s.range * a + b) % 63) < 32
),
vh AS (
  SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
         CAST(sum(1::BIGINT << CAST(s - 1 AS INTEGER))
              - (1::BIGINT << CAST(min(s) - 1 AS INTEGER)) AS BIGINT) AS phash
  FROM slots GROUP BY doc_id, f
)
"""


def _video_frame_hashes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: multi-page-TIFF synth → page-wise decode → the
    # same DCT hash as images, one row per frame; every bit analytic.
    from .extensions.multimodal import video_frame_hashes

    return video_frame_hashes(_video_media(spark, sf_dir))


_register(
    "video_frame_hashes",
    _video_frame_hashes_q,
    f"""
WITH {_VIDEO_HASHES_CTE.strip()}
SELECT doc_id AS media_id, frame_idx, phash FROM vh
""",
    # per-frame video hashing: synth + page decode + DCT in one
    # narrow Arrow pass after the single group-hash id exchange
    # (r12 — see image_phash_values)
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _video_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # videos compare as SETS of frame hashes — exact Jaccard via the
    # generic item join (inverted-index shape, never all-pairs)
    from .extensions.dedup import set_jaccard_pairs
    from .extensions.multimodal import video_frame_hashes

    return set_jaccard_pairs(
        video_frame_hashes(_video_media(spark, sf_dir)), threshold=0.5
    )


_register(
    "video_near_dup",
    _video_near_dup_q,
    f"""
WITH {_VIDEO_HASHES_CTE.strip()},
g2 AS (SELECT DISTINCT doc_id, phash FROM vh),
sz AS (SELECT doc_id, count(*) AS n FROM g2 GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM g2 a JOIN g2 b ON a.phash = b.phash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
       inter / (s1.n + s2.n - inter) AS jaccard
FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
WHERE inter / (s1.n + s2.n - inter) >= 0.5
""",
)


def _avi_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4-frame MJPEG AVI "videos": the REAL video container over the
    # from-spec JPEG codec.  Frame f of the 5-doc group g reuses the
    # DCT-sparse modular-slot construction of `_video_media` at 8 bits
    # with the (24, 56) amplitude pair whose unit-quant JPEG roundtrip
    # the JPEG tests prove bit-exact — every frame hash stays analytic.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_avi(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.extensions.multimodal import _dct_matrix
        from atlas_upscaling_dask_spark.sources.avi import encode_avi
        from atlas_upscaling_dask_spark.sources.jpeg import encode_jpeg

        ones = (np.ones((8, 8), np.int64), np.ones((8, 8), np.int64))
        m = _dct_matrix(32)
        cache: dict[int, bytes] = {}
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) - int(did) % 5
                if g not in cache:
                    jpegs = []
                    for f in range(4):
                        a = _PHASH_AS[(g + f) % 10]
                        b = (g // 10 + 3 * f) % 63
                        slots = sorted(
                            s for s in range(1, 64) if (s * a + b) % 63 < 32
                        )
                        c = np.zeros((32, 32))
                        c[0, 0] = 128.0 * 32
                        for rank, sl in enumerate(slots):
                            u, v = divmod(sl, 8)
                            c[u, v] = 24.0 if rank == 0 else 56.0
                        u8 = np.round(m.T @ c @ m).astype(np.uint8)
                        jpegs.append(encode_jpeg(u8, quant_tables=ones))
                    cache[g] = encode_avi(jpegs, width=32, height=32,
                                          fps_rate=30)
                payloads.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_avi, schema="media_id long, payload binary")


def _avi_frame_hashes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: MJPEG-AVI synth → idx1-indexed frame slice →
    # from-spec JPEG decode → the same DCT hash as images, one row per
    # frame; every bit analytic (same truth as the TIFF video path —
    # two containers, one answer).
    from .extensions.multimodal import video_frame_hashes

    return video_frame_hashes(_avi_media(spark, sf_dir))


_register(
    "avi_frame_hashes",
    _avi_frame_hashes_q,
    f"""
WITH {_VIDEO_HASHES_CTE.strip()}
SELECT doc_id AS media_id, frame_idx, phash FROM vh
""",
    # MJPEG-AVI frame fingerprints: idx1 random access + from-spec
    # JPEG decode, still ONE narrow Arrow pass over the corpus
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _avi_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Header-only container census (hdrl + idx1 walk, zero JPEG work):
    # the planning pass a 100 TB video-corpus profile runs first.
    import pandas as pd

    media = _avi_media(spark, sf_dir)

    def kernel(batches):
        from atlas_upscaling_dask_spark.sources.avi import parse_avi_info

        for pdf in batches:
            rows = {
                "media_id": [], "width": [], "height": [], "n_frames": [],
                "fps": [], "video_codec": [], "has_index": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                info = parse_avi_info(bytes(payload))
                rows["media_id"].append(int(mid))
                rows["width"].append(info["width"])
                rows["height"].append(info["height"])
                rows["n_frames"].append(info["n_frames"])
                rows["fps"].append(info["fps"])
                rows["video_codec"].append(info["video_codec"])
                rows["has_index"].append(info["has_index"])
            yield pd.DataFrame(
                {
                    "media_id": pd.array(rows["media_id"], dtype="int64"),
                    "width": pd.array(rows["width"], dtype="int32"),
                    "height": pd.array(rows["height"], dtype="int32"),
                    "n_frames": pd.array(rows["n_frames"], dtype="int32"),
                    "fps": pd.array(rows["fps"], dtype="float64"),
                    "video_codec": rows["video_codec"],
                    "has_index": pd.array(rows["has_index"], dtype="bool"),
                }
            )

    return media.mapInPandas(
        kernel,
        schema="media_id long, width int, height int, n_frames int, "
        "fps double, video_codec string, has_index boolean",
    )


_register(
    "avi_info",
    _avi_info,
    """
SELECT doc_id AS media_id,
       CAST(32 AS INTEGER) AS width,
       CAST(32 AS INTEGER) AS height,
       CAST(4 AS INTEGER) AS n_frames,
       CAST(30.0 AS DOUBLE) AS fps,
       'MJPG' AS video_codec,
       true AS has_index
FROM documents
""",
    # header-only AVI census: hdrl/idx1 walk, zero JPEG work
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _mp4_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Header-only MP4 census (ISO BMFF box walk — ftyp/mvhd/tkhd/mdhd/
    # hdlr/stsd/stts): the planning pass that decides which payloads
    # are worth handing to a decoder; every field analytic from doc_id.
    # Decode itself stays a contract NotImplementedError (entropy
    # codecs need a media library).
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def kernel(batches):
        from atlas_upscaling_dask_spark.sources.mp4 import (
            encode_mp4_stub,
            parse_mp4_info,
        )

        cache: dict[tuple, bytes] = {}
        for pdf in batches:
            rows = {
                "media_id": [], "duration_s": [], "n_tracks": [],
                "video_codec": [], "width": [], "height": [], "fps": [],
                "channels": [], "sample_rate": [],
            }
            for did in pdf["doc_id"]:
                d = int(did)
                key = (
                    16 * (1 + d % 20), 16 * (1 + d % 12), 1 + d % 10,
                    12 + d % 5, d % 2 == 0, 8000 * (1 + d % 6), 1 + d % 2,
                )
                if key not in cache:
                    w, h, dur, fps, aud, sr, ch = key
                    cache[key] = encode_mp4_stub(
                        width=w, height=h, duration_s=float(dur),
                        n_video_samples=dur * fps, audio=aud,
                        sample_rate=sr, channels=ch,
                    )
                info = parse_mp4_info(cache[key])
                rows["media_id"].append(d)
                rows["duration_s"].append(info["duration_s"])
                rows["n_tracks"].append(info["n_tracks"])
                rows["video_codec"].append(info["video_codec"])
                rows["width"].append(info["width"])
                rows["height"].append(info["height"])
                rows["fps"].append(info["fps"])
                rows["channels"].append(info["channels"])
                rows["sample_rate"].append(info["sample_rate"])
            yield pd.DataFrame(
                {
                    "media_id": pd.array(rows["media_id"], dtype="int64"),
                    "duration_s": pd.array(rows["duration_s"], dtype="float64"),
                    "n_tracks": pd.array(rows["n_tracks"], dtype="int32"),
                    "video_codec": rows["video_codec"],
                    "width": pd.array(rows["width"], dtype="int32"),
                    "height": pd.array(rows["height"], dtype="int32"),
                    "fps": pd.array(rows["fps"], dtype="float64"),
                    "channels": pd.array(rows["channels"], dtype="Int32"),
                    "sample_rate": pd.array(rows["sample_rate"], dtype="Int32"),
                }
            )

    return docs.mapInPandas(
        kernel,
        schema="media_id long, duration_s double, n_tracks int, "
        "video_codec string, width int, height int, fps double, "
        "channels int, sample_rate int",
    )


_register(
    "mp4_info",
    _mp4_info,
    """
SELECT doc_id AS media_id,
       CAST(1 + doc_id % 10 AS DOUBLE) AS duration_s,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INTEGER)
         AS n_tracks,
       'avc1' AS video_codec,
       CAST(16 * (1 + doc_id % 20) AS INTEGER) AS width,
       CAST(16 * (1 + doc_id % 12) AS INTEGER) AS height,
       CAST(12 + doc_id % 5 AS DOUBLE) AS fps,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 2 END AS INTEGER)
         AS channels,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 * (1 + doc_id % 6) END
         AS INTEGER) AS sample_rate
FROM documents
""",
    # header-only MP4 census: ISO-BMFF box walk, decode never runs
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _url_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Synthetic crawl URLs with every normalization hazard planted
    # deterministically: mixed-case scheme/host, default + explicit
    # ports, dot-segments + trailing slash, tracking params out of
    # order, fragments.  The expected canonical form is a pure formula
    # of doc_id — the oracle writes it down directly.
    d = F.col("doc_id")

    def s(x):
        return x.cast("string")

    scheme = F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("hTTpS"))
    host = (
        F.when(d % 4 == 0, F.concat(F.lit("Site"), s(d % 40), F.lit(".EXAMPLE.com")))
        .when(d % 4 == 1, F.concat(F.lit("x.Site"), s(d % 40), F.lit(".co.uk")))
        .when(d % 4 == 2, F.concat(F.lit("Blog"), s(d % 40), F.lit(".example.ORG")))
        .otherwise(F.concat(F.lit("cdn.Site"), s(d % 40), F.lit(".example.NET")))
    )
    port = (
        F.when((d % 3 == 0) & (d % 2 == 0), F.lit(":80"))
        .when((d % 3 == 0) & (d % 2 == 1), F.lit(":443"))
        .when(d % 3 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    # percent-encoding hazards (RFC 3986 §6.2.2): %7E/%61 are
    # unreserved (decode to ~/a), %3a is reserved (kept, hex
    # uppercased), %zq is malformed (verbatim)
    path = F.concat(
        F.lit("/p"), s(d % 5), F.lit("/./x/../q"), s(d % 4),
        F.lit("/%7Eu%61%3a%zq"), s(d % 3), F.lit("/")
    )
    query = F.concat(
        F.lit("?utm_source=feed&b=2&a="), s(d % 6), F.lit("&fbclid=XYZ"), s(d)
    )
    url = F.concat(
        scheme, F.lit("://"), host, port, path, query, F.lit("#sec"), s(d)
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("url", url)
        .withColumn("host", host)
    )


#: the canonical-URL formula shared by the oracle SQL strings
_URL_CANON_SQL = """
(CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
lower(CASE
  WHEN doc_id % 4 = 0 THEN 'Site' || CAST(doc_id % 40 AS VARCHAR) || '.EXAMPLE.com'
  WHEN doc_id % 4 = 1 THEN 'x.Site' || CAST(doc_id % 40 AS VARCHAR) || '.co.uk'
  WHEN doc_id % 4 = 2 THEN 'Blog' || CAST(doc_id % 40 AS VARCHAR) || '.example.ORG'
  ELSE 'cdn.Site' || CAST(doc_id % 40 AS VARCHAR) || '.example.NET' END) ||
(CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
'/p' || CAST(doc_id % 5 AS VARCHAR) || '/q' || CAST(doc_id % 4 AS VARCHAR) ||
'/~ua%3A%zq' || CAST(doc_id % 3 AS VARCHAR) ||
'?a=' || CAST(doc_id % 6 AS VARCHAR) || '&b=2'
""".strip()


def _url_canonicalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: the general RFC 3986 §6 canonicalizer (codegen'd
    # built-ins + HOF fold, zero Python) over hazard-planted URLs; the
    # oracle states the expected string as a closed formula.
    from .extensions.urls import canonicalize_urls

    return canonicalize_urls(_url_docs(spark, sf_dir)).select(
        "doc_id", "canonical_url"
    )


_register(
    "url_canonicalize",
    _url_canonicalize_q,
    f"""
SELECT doc_id, {_URL_CANON_SQL} AS canonical_url
FROM documents
""",
    # URL canonicalization: pure built-in/HOF projection — zero
    # exchanges AND zero Python (codegen end to end)
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _url_domain_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # eTLD+1 via the broadcast public-suffix longest-match join
    # (zero shuffles for the lookup itself), then one hash agg.
    from .extensions.urls import registrable_domains

    return (
        registrable_domains(_url_docs(spark, sf_dir))
        .groupBy("registrable_domain")
        .agg(F.count(F.lit(1)).alias("n_urls"))
    )


_register(
    "url_domain_counts",
    _url_domain_counts_q,
    """
SELECT CASE
         WHEN doc_id % 4 = 0 THEN 'example.com'
         WHEN doc_id % 4 = 1 THEN 'site' || CAST(doc_id % 40 AS VARCHAR) || '.co.uk'
         WHEN doc_id % 4 = 2 THEN 'example.org'
         ELSE 'example.net' END AS registrable_domain,
       count(*) AS n_urls
FROM documents
GROUP BY 1
""",
    # eTLD+1: broadcast public-suffix joins + ONE hash agg — the
    # only exchange is the final group-by
    audit={"broadcast": True, "max_shuffles": 1, "no_python_udf": True},
)


#: PSL-format fixture for the full-semantics query: plain rules in
#: both sections, a wildcard cluster and its exceptions — the
#: publicsuffix.org kobe.jp/ck examples verbatim
_PSL_FIXTURE = """\
// ===BEGIN ICANN DOMAINS===
com
jp
kobe.jp
*.kobe.jp
!city.kobe.jp
ck
*.ck
!www.ck
// ===END ICANN DOMAINS===
// ===BEGIN PRIVATE DOMAINS===
github.io
// ===END PRIVATE DOMAINS===
"""


def _url_psl_domains_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full-PSL registrable domains: the Mozilla-format loader
    # (comments, sections, wildcards, exceptions) feeding the
    # broadcast longest-match joins; host kinds rotate through plain,
    # private-section, wildcard and exception rule territory, each
    # with a closed-form answer.
    from .extensions.urls import load_psl, registrable_domains

    d = F.col("doc_id")

    def s(x):
        return x.cast("string")

    host = (
        F.when(d % 5 == 0, F.concat(F.lit("www.site"), s(d % 20), F.lit(".com")))
        .when(d % 5 == 1, F.concat(F.lit("a"), s(d % 7), F.lit(".www.ck")))
        .when(
            d % 5 == 2,
            F.concat(F.lit("shop"), s(d % 7), F.lit(".zone"), s(d % 11),
                     F.lit(".ck")),
        )
        .when(d % 5 == 3, F.concat(F.lit("x.blog"), s(d % 9), F.lit(".github.io")))
        .otherwise(F.concat(F.lit("w"), s(d % 3), F.lit(".city.kobe.jp")))
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("host", host)
    )
    sfx = load_psl(spark, text=_PSL_FIXTURE)
    return registrable_domains(docs, suffixes=sfx).select(
        "doc_id", "registrable_domain"
    )


_register(
    "url_psl_domains",
    _url_psl_domains_q,
    """
SELECT doc_id,
       CASE CAST(doc_id % 5 AS INTEGER)
         WHEN 0 THEN 'site' || CAST(doc_id % 20 AS VARCHAR) || '.com'
         WHEN 1 THEN 'www.ck'
         WHEN 2 THEN 'shop' || CAST(doc_id % 7 AS VARCHAR) ||
                     '.zone' || CAST(doc_id % 11 AS VARCHAR) || '.ck'
         WHEN 3 THEN 'blog' || CAST(doc_id % 9 AS VARCHAR) || '.github.io'
         ELSE 'city.kobe.jp' END AS registrable_domain
FROM documents
""",
    # full-PSL eTLD+1 (wildcards + exceptions): every rule kind is
    # a broadcast hash join, zero exchanges end to end
    audit={"broadcast": True, "no_shuffle": True, "no_python_udf": True},
)


def _sitemap_entries_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full sitemap <url> entries — the crawl-scheduling fields: per doc
    # an urlset of two entries, rotating lastmod presence (W3C datetime
    # with timezone, date part extracted), changefreq case-folding,
    # spec-default priority 0.5 when absent, and an entity-escaped loc
    # that must decode before canonicalization.
    from .extensions.urls import extract_sitemap_entries

    d = F.col("doc_id")

    def s(x):
        return x.cast("string")

    day = F.lpad(s(d % 28 + 1), 2, "0")
    lastmod1 = F.when(
        d % 3 != 0,
        F.concat(F.lit("<lastmod>2026-01-"), day,
                 F.lit("T12:30:00+02:00</lastmod>")),
    ).otherwise(F.lit(""))
    cf1 = F.when(
        d % 2 == 0, F.lit("<changefreq>WEEKLY</changefreq>")
    ).otherwise(F.lit(""))
    pr1 = F.when(
        d % 5 != 0,
        F.concat(F.lit("<priority>0."), s(d % 10), F.lit("</priority>")),
    ).otherwise(F.lit(""))
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> http://SM'),
        s(d % 50), F.lit(".example.com/p/"), s(d % 7),
        F.lit(" </loc>"), lastmod1, cf1, pr1,
        F.lit("</url><url><loc>http://sm"), s(d % 50),
        F.lit(".example.com/p?a=1&amp;b=2</loc>"),
        F.lit("<changefreq>daily</changefreq><priority>0.9</priority>"),
        F.lit("</url></urlset>"),
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("xml", xml)
    )
    out = extract_sitemap_entries(docs).drop("xml")
    # dates project as ISO strings for the oracle compare (the same
    # convention the harness uses for timestamps)
    return out.withColumn(
        "lastmod_date", F.date_format("lastmod_date", "yyyy-MM-dd")
    )


_register(
    "sitemap_entries",
    _sitemap_entries_q,
    """
SELECT doc_id,
       CASE WHEN doc_id % 3 != 0
            THEN '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR),
                 2, '0') END AS lastmod_date,
       CASE WHEN doc_id % 2 = 0 THEN 'weekly' END AS changefreq,
       CASE WHEN doc_id % 5 != 0
            THEN CAST(doc_id % 10 AS DOUBLE) / 10.0
            ELSE 0.5 END AS priority,
       'http://sm' || CAST(doc_id % 50 AS VARCHAR) || '.example.com/p/' ||
       CAST(doc_id % 7 AS VARCHAR) AS url
FROM documents
UNION ALL
SELECT doc_id,
       CAST(NULL AS VARCHAR),
       'daily',
       0.9,
       'http://sm' || CAST(doc_id % 50 AS VARCHAR) ||
       '.example.com/p?a=1&b=2'
FROM documents
""",
    # sitemap <url> entries: one regex/HOF projection + explode
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _robots_crawl_delays_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Crawl-delay extraction with RFC 9309 group selection: specific
    # agent group beats *, fractional delays parse, a matched group
    # WITHOUT a delay yields NULL (not the * fallback's value).
    from .extensions.urls import robots_crawl_delays

    d = F.col("doc_id")

    def s(x):
        return x.cast("string")

    txt = (
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("User-agent: fastbot\nCrawl-delay: "), s(d % 5 + 1),
                F.lit("\nDisallow: /x\n\nUser-agent: *\nCrawl-delay: 9\n"),
            ),
        )
        .when(
            d % 3 == 1,
            F.lit("User-agent: *\nCrawl-delay: 0.5\nDisallow: /y\n"),
        )
        .otherwise(
            F.lit("User-agent: fastbot\nDisallow: /z\n")
        )
    )
    robots = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("host", F.concat(F.lit("h"), s(d), F.lit(".example.com")))
        .withColumn("robots_txt", txt)
    )
    out = robots_crawl_delays(robots, agent="fastbot")
    return out


_register(
    "robots_crawl_delays",
    _robots_crawl_delays_q,
    """
SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com' AS host,
       CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 5 + 1 AS DOUBLE)
            WHEN doc_id % 3 = 1 THEN 0.5
            END AS crawl_delay
FROM documents
""",
    # per-host Crawl-delay: kernel over the tiny robots table
    audit={"no_shuffle": True},
)


def _recrawl_schedule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RFC 9111 freshness → recrawl times, all five precedence tiers:
    # no-cache beats a present max-age, max-age beats Expires, stale
    # Expires floors at 0, Last-Modified age drives the 10% heuristic,
    # and bare responses get the default TTL.
    from .extensions.crawl import recrawl_schedule

    d = F.col("doc_id")

    def s(x):
        return x.cast("string")

    k = d % 6
    cc = (
        F.when(k == 0, F.concat(F.lit("max-age="), s(60 * (d % 10 + 1)),
                                F.lit(", public")))
        .when(k == 1, F.lit("no-cache, max-age=500"))
        .when(k == 5, F.lit("public"))
    )
    expires = (
        F.when(k == 2, F.lit("Thu, 01 Jan 2026 00:00:00 GMT"))
        .when(k == 5, F.lit("Wed, 01 Jan 2020 00:00:00 GMT"))  # stale
    )
    lastmod = F.when(k == 3, F.lit("Wed, 01 Jan 2020 00:00:00 GMT"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("fetch_ts", (F.lit(1700000000) + d * 13).cast("long"))
        .withColumn("http_cache_control", cc)
        .withColumn("http_expires", expires)
        .withColumn("http_last_modified", lastmod)
    )
    return recrawl_schedule(docs).select(
        "doc_id", "ttl_sec", "next_fetch_ts", "freshness_source"
    )


_register(
    "recrawl_schedule",
    _recrawl_schedule_q,
    """
WITH m AS (
  SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS k,
         1700000000 + doc_id * 13 AS fetch_ts
  FROM documents
),
t AS (
  SELECT doc_id, fetch_ts,
         CASE k
           WHEN 0 THEN 60 * (doc_id % 10 + 1)
           WHEN 1 THEN 0
           WHEN 2 THEN greatest(1767225600 - fetch_ts, 0)
           WHEN 3 THEN CAST(floor((fetch_ts - 1577836800) * 0.1) AS BIGINT)
           WHEN 4 THEN 86400
           ELSE 0 END AS ttl_sec,
         CASE k
           WHEN 0 THEN 'max-age' WHEN 1 THEN 'no-cache'
           WHEN 2 THEN 'expires' WHEN 3 THEN 'heuristic'
           WHEN 4 THEN 'default' ELSE 'expires' END AS freshness_source
  FROM m
)
SELECT doc_id, CAST(ttl_sec AS BIGINT) AS ttl_sec,
       CAST(fetch_ts + ttl_sec AS BIGINT) AS next_fetch_ts,
       freshness_source
FROM t
""",
    # RFC 9111 freshness → recrawl times: pure expressions
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _warc_recrawl_schedule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The COMPOSED scheduling chain: WARC archive → record kernel
    # (caching headers + WARC-Date) → RFC 9111 recrawl times.  Fetch
    # time comes from the record's own WARC-Date (ISO 8601), headers
    # rotate max-age / stale-Expires / bare.
    import pandas as pd

    from .extensions.crawl import recrawl_schedule
    from .sources.warc import warc_records

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_warc(batches):
        from atlas_upscaling_dask_spark.sources.warc import encode_warc

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                hh = {}
                if d % 3 == 0:
                    hh["Cache-Control"] = f"max-age={30 * (d % 8 + 1)}"
                elif d % 3 == 1:
                    hh["Expires"] = "Wed, 01 Jan 2020 00:00:00 GMT"  # stale
                records = [
                    {"type": "response", "uri": f"http://s.com/{d}",
                     "status": 200, "payload": b"<p>x</p>",
                     # seconds rotate so fetch_ts is per-doc analytic
                     "date": f"2026-02-01T00:{d % 60:02d}:{d % 30:02d}Z",
                     "http_headers": hh},
                ]
                payloads.append(encode_warc(records))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(
        make_warc, schema="media_id long, payload binary"
    )
    recs = warc_records(media).filter(F.col("http_status") == 200)
    recs = recs.withColumn(
        "fetch_ts",
        F.unix_timestamp(
            F.try_to_timestamp(
                F.col("warc_date"), F.lit("yyyy-MM-dd'T'HH:mm:ssX")
            )
        ),
    )
    return recrawl_schedule(recs, default_ttl=3600).select(
        "media_id", "fetch_ts", "ttl_sec", "next_fetch_ts",
        "freshness_source",
    )


_register(
    "warc_recrawl_schedule",
    _warc_recrawl_schedule_q,
    """
WITH m AS (
  -- 2026-02-01T00:00:00Z = 1769904000
  SELECT doc_id,
         1769904000 + (doc_id % 60) * 60 + doc_id % 30 AS fetch_ts
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(fetch_ts AS BIGINT) AS fetch_ts,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 30 * (doc_id % 8 + 1)
                 WHEN doc_id % 3 = 1 THEN 0
                 ELSE 3600 END AS BIGINT) AS ttl_sec,
       CAST(fetch_ts + CASE WHEN doc_id % 3 = 0 THEN 30 * (doc_id % 8 + 1)
                            WHEN doc_id % 3 = 1 THEN 0
                            ELSE 3600 END AS BIGINT) AS next_fetch_ts,
       CASE WHEN doc_id % 3 = 0 THEN 'max-age'
            WHEN doc_id % 3 = 1 THEN 'expires'
            ELSE 'default' END AS freshness_source
FROM m
""",
    # composed WARC -> recrawl schedule: kernel + pure projection
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _redirect_chains_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Redirect-chain resolution by pointer doubling: groups of 4 docs
    # form a 301-chain hop0 -> hop1 -> hop2 -> hop3 (terminal 200) with
    # RELATIVE Location values and mixed-case fetch URLs (both sides
    # must canonicalize); every 13th group is a 4-CYCLE, which must
    # surface as unresolved with the hop count pinned at the cap.
    from .extensions.urls import resolve_redirects

    d = F.col("doc_id")
    g = d - d % 4
    i = d % 4

    def s(x):
        return x.cast("string")

    url = F.concat(
        F.lit("HTTP://R"), s(g), F.lit(".Example.com/hop/"), s(i)
    )
    is_cycle = g % 13 == 0
    status = F.when(is_cycle | (i < 3), F.lit(301)).otherwise(F.lit(200))
    location = F.when(
        is_cycle, F.concat(F.lit("/hop/"), s((i + 1) % 4))
    ).when(i < 3, F.concat(F.lit("/hop/"), s(i + 1)))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("url", url)
        .withColumn("http_status", status)
        .withColumn("http_location", location)
    )
    out = resolve_redirects(docs, max_hops=16)
    return out.select(
        "url_canonical", "final_url",
        F.col("n_hops").cast("int").alias("n_hops"),
        F.col("unresolved").cast("int").alias("unresolved"),
    )


_register(
    "redirect_chains",
    _redirect_chains_q,
    """
WITH m AS (
  SELECT doc_id - doc_id % 4 AS g, doc_id % 4 AS i FROM documents
)
SELECT 'http://r' || CAST(g AS VARCHAR) || '.example.com/hop/' ||
       CAST(i AS VARCHAR) AS url_canonical,
       'http://r' || CAST(g AS VARCHAR) || '.example.com/hop/' ||
       CAST(CASE WHEN g % 13 = 0 THEN i ELSE 3 END AS VARCHAR)
         AS final_url,
       CAST(CASE WHEN g % 13 = 0 THEN 16 ELSE 3 - i END AS INTEGER)
         AS n_hops,
       CAST(CASE WHEN g % 13 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS unresolved
FROM m
""",
    # redirect-chain resolution: pointer doubling — the VISIBLE
    # plan is the last doubling round (localCheckpoint truncates
    # earlier rounds), one self-join; log2(max_hops) such rounds
    # total, never a per-hop walk
    audit={"max_shuffles": 3, "no_python_udf": True},
)


def _crawl_frontier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The composed frontier transform (streaming's batch kernel,
    # r10 verdict #5): redirect-terminus keying + RFC 9111 schedule +
    # robots politeness floor, ONE oracle row.  Same chain fixture as
    # redirect_chains (groups of 4, every 13th group a 4-cycle), plus:
    # cache headers rotate by g % 3 (max-age / no-store / none) and
    # even-g hosts declare Crawl-delay 100*(g%5) — next_fetch_ts must
    # be the MAX of the freshness and politeness floors.
    from .streaming.ingest import frontier_updates

    d = F.col("doc_id")
    g = d - d % 4
    i = d % 4

    def s(x):
        return x.cast("string")

    url = F.concat(
        F.lit("HTTP://R"), s(g), F.lit(".Example.com/hop/"), s(i)
    )
    is_cycle = g % 13 == 0
    status = F.when(is_cycle | (i < 3), F.lit(301)).otherwise(F.lit(200))
    location = F.when(
        is_cycle, F.concat(F.lit("/hop/"), s((i + 1) % 4))
    ).when(i < 3, F.concat(F.lit("/hop/"), s(i + 1)))
    cache_control = (
        F.when(g % 3 == 0, F.concat(F.lit("max-age="), s(300 + g % 900)))
        .when(g % 3 == 1, F.lit("no-store"))
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("url", url)
        .withColumn("fetch_ts", (F.lit(1_000_000) + d).cast("long"))
        .withColumn("http_status", status)
        .withColumn("http_location", location)
        .withColumn("http_cache_control", cache_control)
        .withColumn("http_expires", F.lit(None).cast("string"))
        .withColumn("http_last_modified", F.lit(None).cast("string"))
    )
    robots = (
        docs.select((d - d % 4).alias("g"))
        .distinct()
        .filter(F.col("g") % 2 == 0)
        .select(
            F.concat(
                F.lit("r"), F.col("g").cast("string"),
                F.lit(".example.com"),
            ).alias("host"),
            F.concat(
                F.lit("User-agent: *\nCrawl-delay: "),
                (F.col("g") % 5 * 100).cast("string"),
                F.lit("\nDisallow: /private\n"),
            ).alias("robots_txt"),
        )
    )
    out = frontier_updates(docs, robots=robots, max_hops=16)
    return out.select(
        "fetch_ts",
        "final_url",
        "host",
        "next_fetch_ts",
        "ttl_sec",
        "freshness_source",
        "crawl_delay_sec",
        F.col("n_hops").cast("int").alias("n_hops"),
        F.col("unresolved").cast("int").alias("unresolved"),
    )


_register(
    "crawl_frontier",
    _crawl_frontier_q,
    """
WITH m AS (
  SELECT doc_id,
         doc_id - doc_id % 4 AS g,
         doc_id % 4 AS i,
         1000000 + doc_id AS fetch_ts
  FROM documents
), sched AS (
  SELECT *,
         CASE WHEN g % 3 = 0 THEN 300 + g % 900
              WHEN g % 3 = 1 THEN 0
              ELSE 86400 END AS ttl_sec,
         CASE WHEN g % 2 = 0 THEN CAST(g % 5 * 100 AS DOUBLE)
              ELSE 0.0 END AS crawl_delay_sec
  FROM m
)
SELECT CAST(fetch_ts AS BIGINT) AS fetch_ts,
       'http://r' || CAST(g AS VARCHAR) || '.example.com/hop/' ||
       CAST(CASE WHEN g % 13 = 0 THEN i ELSE 3 END AS VARCHAR)
         AS final_url,
       'r' || CAST(g AS VARCHAR) || '.example.com' AS host,
       CAST(GREATEST(fetch_ts + ttl_sec,
                     fetch_ts + CAST(CEIL(crawl_delay_sec) AS BIGINT))
            AS BIGINT) AS next_fetch_ts,
       CAST(ttl_sec AS BIGINT) AS ttl_sec,
       CASE WHEN g % 3 = 0 THEN 'max-age'
            WHEN g % 3 = 1 THEN 'no-cache'
            ELSE 'default' END AS freshness_source,
       crawl_delay_sec,
       CAST(CASE WHEN g % 13 = 0 THEN 16 ELSE 3 - i END AS INTEGER)
         AS n_hops,
       CAST(CASE WHEN g % 13 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS unresolved
FROM sched
""",
    # composed frontier transform: redirect doubling (log-bounded)
    # + canonical join-back + BROADCAST politeness join; budget
    # covers the doubling rounds plus the join-back
    audit={"max_shuffles": 6, "no_python_udf": True},
)


def _url_dedup_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Groups of 5 docs share one canonical URL but NO two raw
    # spellings in a group match (case, default port, dot-segments,
    # tracking params and fragments all vary with doc_id) — the dedup
    # only converges if canonicalization actually does its job.
    from .extensions.urls import url_dedup

    d = F.col("doc_id")
    g = d - d % 5

    def s(x):
        return x.cast("string")

    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(d % 2 == 0, F.lit("SITE")).otherwise(F.lit("site")),
        s(g % 30),
        F.lit(".Example.com"),
        F.when(d % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/dup/./"),
        s(g % 7),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_term="), s(d),
        F.lit("&k="), s(g % 9),
        F.lit("#"), s(d),
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("url", url)
    )
    return url_dedup(docs)


_register(
    "url_dedup_groups",
    _url_dedup_groups_q,
    """
WITH c AS (
  SELECT doc_id,
         'http://site' || CAST((doc_id - doc_id % 5) % 30 AS VARCHAR) ||
         '.example.com/dup/' || CAST((doc_id - doc_id % 5) % 7 AS VARCHAR) ||
         '?k=' || CAST((doc_id - doc_id % 5) % 9 AS VARCHAR) AS canonical_url
  FROM documents
)
SELECT canonical_url,
       min(doc_id) AS survivor_doc_id,
       count(*) AS n_dups
FROM c
GROUP BY 1
""",
    # canonical-URL dedup: narrow canonicalize + one hash agg
    audit={"max_shuffles": 1, "codegen": True, "no_python_udf": True},
)


def _link_graph_edges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Crawl link-graph extraction: per page, four href forms (absolute,
    # root-relative with a tracking param, bare-relative, protocol-
    # relative) plus fragment-only and mailto noise — extract, RFC 3986
    # §5 resolve against the base, canonicalize.  One codegen'd
    # extract + one explode, no Python, no join; the resolved edge set
    # is analytic.
    from .extensions.urls import extract_links

    d = F.col("doc_id")

    def s(x):
        return x.cast("string")

    base = F.concat(
        F.lit("http://crawl"), s(d % 10), F.lit(".example.com/w/"), s(d % 7)
    )
    html = F.concat(
        F.lit('<p><a href="http://ext'), s(d % 6),
        F.lit('.example.org/a">x</a>'),
        F.lit('<a href="/r/'), s(d % 4), F.lit('?utm_source=z">y</a>'),
        F.lit("<a href='sub/p"), s(d % 3), F.lit("'>z</a>"),
        F.lit('<a href="//cdn'), s(d % 3), F.lit('.example.net/lib">w</a>'),
        F.lit('<a href="#frag">self</a><a href="mailto:a@b.c">m</a></p>'),
    )
    pages = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("url", base)
        .withColumn("html", html)
    )
    return extract_links(pages).select("doc_id", "link_url")


_register(
    "link_graph_edges",
    _link_graph_edges_q,
    """
SELECT doc_id,
       CASE f.range
         WHEN 0 THEN 'http://ext' || CAST(doc_id % 6 AS VARCHAR) ||
                     '.example.org/a'
         WHEN 1 THEN 'http://crawl' || CAST(doc_id % 10 AS VARCHAR) ||
                     '.example.com/r/' || CAST(doc_id % 4 AS VARCHAR)
         WHEN 2 THEN 'http://crawl' || CAST(doc_id % 10 AS VARCHAR) ||
                     '.example.com/w/sub/p' || CAST(doc_id % 3 AS VARCHAR)
         ELSE 'http://cdn' || CAST(doc_id % 3 AS VARCHAR) ||
              '.example.net/lib' END AS link_url
FROM documents, range(4) f
""",
    # link-graph extraction: codegen'd href extract + explode +
    # RFC 3986 resolution — zero Python, zero exchanges
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _sitemap_urls_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sitemap-protocol URL discovery: per-doc urlset XML with the
    # hazards the spec allows (XML-escaped &amp; in loc values,
    # whitespace padding, mixed-case hosts, tracking params) — extract,
    # entity-decode, canonicalize; every URL analytic.
    from .extensions.urls import extract_sitemap_urls

    d = F.col("doc_id")

    def s(x):
        return x.cast("string")

    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> HTTP://Map'),
        s(d % 8),
        F.lit(".Example.com/p/"), s(d % 5),
        F.lit("?utm_source=sm&amp;k="), s(d % 3),
        F.lit(" </loc></url><url><loc>http://map"), s(d % 8),
        F.lit(".example.com/q/"), s(d % 4), F.lit("/../r</loc></url>"),
        F.lit("</urlset>"),
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("xml", xml)
    )
    return extract_sitemap_urls(docs).select("doc_id", "url")


_register(
    "sitemap_urls",
    _sitemap_urls_q,
    """
SELECT doc_id,
       CASE f.range
         WHEN 0 THEN 'http://map' || CAST(doc_id % 8 AS VARCHAR) ||
                     '.example.com/p/' || CAST(doc_id % 5 AS VARCHAR) ||
                     '?k=' || CAST(doc_id % 3 AS VARCHAR)
         ELSE 'http://map' || CAST(doc_id % 8 AS VARCHAR) ||
              '.example.com/q/r' END AS url
FROM documents, range(2) f
""",
    # sitemap URL discovery: codegen'd loc extract + explode +
    # canonicalize — zero Python, zero exchanges
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


_CRAWL_EDGES_CTE = """
edges AS (
  SELECT DISTINCT least(p, l) AS a, greatest(p, l) AS b FROM (
    SELECT 'http://crawl' || CAST(doc_id % 10 AS VARCHAR) ||
           '.example.com/w/' || CAST(doc_id % 7 AS VARCHAR) AS p,
           CASE f.range
             WHEN 0 THEN 'http://ext' || CAST(doc_id % 6 AS VARCHAR) ||
                         '.example.org/a'
             WHEN 1 THEN 'http://crawl' || CAST(doc_id % 10 AS VARCHAR) ||
                         '.example.com/r/' || CAST(doc_id % 4 AS VARCHAR)
             WHEN 2 THEN 'http://crawl' || CAST(doc_id % 10 AS VARCHAR) ||
                         '.example.com/w/sub/p' || CAST(doc_id % 3 AS VARCHAR)
             ELSE 'http://cdn' || CAST(doc_id % 3 AS VARCHAR) ||
                  '.example.net/lib' END AS l
    FROM documents, range(4) f
  )
)
"""


def _crawl_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The composed crawl-analytics chain: link extraction → canonical
    # undirected page graph → integer-scaled PageRank (bitwise
    # reproducible), top-10.  Same truth as `graph_pagerank`, new edge
    # source — extraction, resolution and graph math all checked in one
    # row.
    from .extensions.urls import extract_links
    from .operators.graph import pagerank

    d = F.col("doc_id")

    def s(x):
        return x.cast("string")

    base = F.concat(
        F.lit("http://crawl"), s(d % 10), F.lit(".example.com/w/"), s(d % 7)
    )
    html = F.concat(
        F.lit('<p><a href="http://ext'), s(d % 6),
        F.lit('.example.org/a">x</a>'),
        F.lit('<a href="/r/'), s(d % 4), F.lit('?utm_source=z">y</a>'),
        F.lit("<a href='sub/p"), s(d % 3), F.lit("'>z</a>"),
        F.lit('<a href="//cdn'), s(d % 3), F.lit('.example.net/lib">w</a>'),
        F.lit('<a href="#frag">self</a><a href="mailto:a@b.c">m</a></p>'),
    )
    pages = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("url", base)
        .withColumn("html", html)
    )
    links = extract_links(pages)
    edges = links.select(
        F.least("url", "link_url").alias("a"),
        F.greatest("url", "link_url").alias("b"),
    ).distinct()
    return pagerank(edges, n_iter=3, top_k=10)


def _crawl_pagerank_oracle() -> str:
    from .operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(_CRAWL_EDGES_CTE.strip(), n_iter=3, top_k=10)


_register(
    "crawl_pagerank",
    _crawl_pagerank_q,
    _crawl_pagerank_oracle(),
    # composed crawl PageRank: extraction is narrow; the audited
    # exchanges are the edge-distinct + per-iteration rank aggs
    # (same budget shape as graph_pagerank + 1 for the distinct)
    audit={"max_shuffles": 3, "no_python_udf": True},
)


def _pdf_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Groups of 5 docs share a PDF: 1 + g % 3 pages, page i's text is
    # the closed formula "p{i} of (doc {g}) \\ end" (parens + backslash
    # exercise the literal-string escapes), Producer "gen {g%7}".
    # Emission form rotates: TJ arrays on odd groups, Flate on
    # g % 10 < 5 — extraction must be invariant to both.  Every 7th
    # group is ENCRYPTED for real under the standard security handler
    # (empty user password — the dominant crawl case), cycling all
    # four cipher flavors (RC4-40, RC4-128, AESV2, AESV3) by
    # (g//35) % 4; the census labels the flavor and extraction
    # authenticates + decrypts.  Groups with g % 15 == 10 (minus the
    # encrypted overlap) emit the PDF 1.5 layout — Info + page dicts
    # packed in a /Type /ObjStm behind a binary xref stream — whose
    # packed pages the census must still count and whose version
    # header reads 1.5.  Every third group (g % 15 == 5)
    # is a CID / Type0 Identity-H fixture: 2-byte hex show-strings
    # decoded through a /ToUnicode CMap (ISO 32000 §9.10.3) — the same
    # page text must extract EXACTLY, proving the CMap path, while the
    # census flags the font class.  Group-hash repartition from the
    # one-split documents table (partition-from-work).
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32, F.col("doc_id") - F.col("doc_id") % 5)
    )

    def make_pdf(batches):
        from atlas_upscaling_dask_spark.sources.pdf import encode_pdf

        cache: dict[int, bytes] = {}
        for pdf_batch in batches:
            payloads = []
            for did in pdf_batch["doc_id"]:
                g = int(did) - int(did) % 5
                if g not in cache:
                    pages = [
                        f"p{i} of (doc {g}) \\ end"
                        for i in range(1 + g % 3)
                    ]
                    cache[g] = encode_pdf(
                        pages,
                        compress=(g % 10 < 5),
                        producer=f"gen {g % 7}",
                        use_tj_array=bool(g % 2),
                        encrypt=(
                            None
                            if g % 35
                            else ["rc4-40", "rc4-128", "aesv2", "aesv3"][
                                (g // 35) % 4
                            ]
                        ),
                        use_cid_font=(g % 15 == 5),
                        use_objstm=(g % 15 == 10 and g % 35 != 0),
                    )
                payloads.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf_batch["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_pdf, schema="media_id long, payload binary")


def _pdf_info_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Header-level census: the keep/drop decision a 100 TB corpus
    # makes BEFORE extraction — version, page count, encrypted flag,
    # producer, all analytic from the group formula.
    import pandas as pd

    media = _pdf_media(spark, sf_dir)

    def kernel(batches):
        from atlas_upscaling_dask_spark.sources.pdf import parse_pdf_info

        for pdf_batch in batches:
            infos = [
                parse_pdf_info(bytes(p)) for p in pdf_batch["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf_batch["media_id"],
                    "version": [i["version"] for i in infos],
                    "n_pages": pd.array(
                        [i["n_pages"] for i in infos], dtype="int32"
                    ),
                    "encrypted": [i["encrypted"] for i in infos],
                    "encryption": [i["encryption"] for i in infos],
                    "producer": [i["producer"] for i in infos],
                    "has_cid_fonts": [i["has_cid_fonts"] for i in infos],
                }
            )

    return media.mapInPandas(
        kernel,
        schema=(
            "media_id long, version string, n_pages int, "
            "encrypted boolean, encryption string, producer string, "
            "has_cid_fonts boolean"
        ),
    )


_register(
    "pdf_info",
    _pdf_info_q,
    """
SELECT doc_id AS media_id,
       CASE WHEN (doc_id - doc_id % 5) % 15 = 10
                 AND (doc_id - doc_id % 5) % 35 <> 0
            THEN '1.5' ELSE '1.4' END AS version,
       CAST(1 + (doc_id - doc_id % 5) % 3 AS INTEGER) AS n_pages,
       (doc_id - doc_id % 5) % 35 = 0 AS encrypted,
       CASE WHEN (doc_id - doc_id % 5) % 35 = 0 THEN
           ['RC4-40', 'RC4-128', 'AESV2', 'AESV3']
           [1 + ((doc_id - doc_id % 5) // 35) % 4]
       END AS encryption,
       'gen ' || CAST((doc_id - doc_id % 5) % 7 AS VARCHAR) AS producer,
       (doc_id - doc_id % 5) % 15 = 5 AS has_cid_fonts
FROM documents
""",
    # PDF census: one group-hash exchange, then header-only kernel
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _pdf_text_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: linear object scan → (standard-security-handler
    # authentication + decryption for the encrypted groups — empty
    # user password, all four cipher flavors) → Flate inflate →
    # text-operator fold with literal-string unescaping; the oracle
    # rebuilds the same page text from the closed formula (string_agg
    # over the page range) for ALL 100% of documents, proving the
    # decrypt path yields byte-identical text.
    import pandas as pd

    media = _pdf_media(spark, sf_dir)

    def kernel(batches):
        from atlas_upscaling_dask_spark.sources.pdf import (
            extract_pdf_text,
        )

        cache: dict[int, str] = {}
        for pdf_batch in batches:
            texts = []
            for did, payload in zip(
                pdf_batch["media_id"], pdf_batch["payload"]
            ):
                g = int(did) - int(did) % 5
                if g not in cache:
                    cache[g] = extract_pdf_text(bytes(payload))
                texts.append(cache[g])
            yield pd.DataFrame(
                {"media_id": pdf_batch["media_id"], "text": texts}
            )

    return media.mapInPandas(kernel, schema="media_id long, text string")


_register(
    "pdf_text_extract",
    _pdf_text_extract_q,
    r"""
SELECT d.doc_id AS media_id,
       string_agg(
           'p' || CAST(i.range AS VARCHAR) || ' of (doc '
           || CAST(d.doc_id - d.doc_id % 5 AS VARCHAR) || ') \ end',
           chr(10) ORDER BY i.range) AS text
FROM documents d
JOIN range(0, 3) i
  ON i.range < 1 + (d.doc_id - d.doc_id % 5) % 3
GROUP BY d.doc_id
""",
    # PDF text extraction: one group-hash exchange, linear-scan +
    # inflate kernel (the filter on encrypted groups is codegen)
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _media_census_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mixed-format media corpus (9 formats rotating by doc_id) through
    # ONE unified header-census pass — magic-byte dispatch to the
    # per-format parse_*_info, zero entropy decode anywhere; every
    # field analytic from doc_id.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_media(batches):
        import os
        import tempfile

        import numpy as np

        from atlas_upscaling_dask_spark.extensions.multimodal import (
            media_census as _,  # noqa: F401 (documents the pairing)
        )
        from atlas_upscaling_dask_spark.sources import tiff as tiffmod
        from atlas_upscaling_dask_spark.sources.avi import encode_avi
        from atlas_upscaling_dask_spark.sources.gif import encode_gif
        from atlas_upscaling_dask_spark.sources.jpeg import encode_jpeg
        from atlas_upscaling_dask_spark.sources.mp4 import encode_mp4_stub
        from atlas_upscaling_dask_spark.sources.pdf import encode_pdf
        from atlas_upscaling_dask_spark.sources.png import encode_png
        from atlas_upscaling_dask_spark.sources.wav import encode_wav
        from atlas_upscaling_dask_spark.sources.webp import (
            encode_webp_lossless,
        )

        tmpdir = tempfile.mkdtemp(prefix="census_")
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                w, h = 8 + d % 11, 8 + d % 9
                kind = d % 9
                if kind == 0:
                    p = encode_png(np.zeros((h, w), np.uint8))
                elif kind == 1:
                    p = encode_jpeg(np.zeros((h, w), np.uint8), quality=50)
                elif kind == 2:
                    frames = [
                        np.zeros((h, w), np.uint8) for _ in range(1 + d % 3)
                    ]
                    p = encode_gif(
                        frames, palette=np.zeros((2, 3), np.uint8)
                    )
                elif kind == 3:
                    path = os.path.join(tmpdir, f"{d}.tif")
                    tiffmod.write_tiff(
                        path, np.zeros((2, h, w), np.uint8)
                    )
                    with open(path, "rb") as fh:
                        p = fh.read()
                    os.unlink(path)
                elif kind == 4:
                    p = encode_avi([b"fake-jpeg"] * 3, width=w, height=h)
                elif kind == 5:
                    n = 100 + d % 50
                    p = encode_wav(
                        np.zeros(n, np.int16), 8000 * (1 + d % 4)
                    )
                elif kind == 6:
                    p = encode_mp4_stub(
                        width=w, height=h, duration_s=1.0,
                        n_video_samples=12 * (1 + d % 4),
                        sample_rate=16000,
                    )
                elif kind == 7:
                    p = encode_webp_lossless(np.zeros((h, w), np.uint8))
                else:
                    p = encode_pdf(
                        ["census page"] * (1 + d % 4), compress=False
                    )
                payloads.append(p)
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    from .extensions.multimodal import media_census

    media = docs.mapInPandas(
        make_media, schema="media_id long, payload binary"
    )
    return media_census(media)


_register(
    "media_census",
    _media_census_q,
    """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 9 AS INTEGER)
         WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
         WHEN 3 THEN 'tiff' WHEN 4 THEN 'avi' WHEN 5 THEN 'wav'
         WHEN 6 THEN 'mp4' WHEN 7 THEN 'webp' ELSE 'pdf' END AS format,
       CAST(CASE WHEN doc_id % 9 IN (5, 8) THEN NULL
                 ELSE 8 + doc_id % 11 END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 9 IN (5, 8) THEN NULL
                 ELSE 8 + doc_id % 9 END AS INTEGER) AS height,
       CAST(CASE CAST(doc_id % 9 AS INTEGER)
         WHEN 2 THEN 1 + doc_id % 3
         WHEN 3 THEN 2
         WHEN 4 THEN 3
         WHEN 5 THEN 100 + doc_id % 50
         WHEN 6 THEN 12 * (1 + doc_id % 4)
         WHEN 8 THEN 1 + doc_id % 4
         ELSE 1 END AS BIGINT) AS n_frames,
       CAST(CASE CAST(doc_id % 9 AS INTEGER)
         WHEN 5 THEN 8000 * (1 + doc_id % 4)
         WHEN 6 THEN 16000
         END AS INTEGER) AS sample_rate
FROM documents
""",
    # unified mixed-corpus census: magic dispatch to 7 per-format
    # header parsers, one narrow pass, zero entropy decode
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _webp_info_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WebP container census across all four RIFF layouts: simple
    # lossless VP8L (real encoded bitstreams), simple lossy VP8 (valid
    # keyframe header), extended VP8X+ANIM/ANMF with the alpha flag,
    # and extended VP8X-wrapped lossless stills — every field a closed
    # formula on doc_id, zero entropy decode.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_and_parse(batches):
        import numpy as np

        from atlas_upscaling_dask_spark.sources.webp import (
            encode_webp_animated_stub,
            encode_webp_extended_lossless,
            encode_webp_lossless,
            encode_webp_lossy_stub,
            parse_webp_info,
        )

        cache: dict[tuple, bytes] = {}
        for pdf in batches:
            rows = {
                "media_id": [], "variant": [], "width": [], "height": [],
                "has_alpha": [], "has_animation": [], "n_frames": [],
            }
            for did in pdf["doc_id"]:
                d = int(did)
                kind = d % 4
                if kind == 0:
                    key = ("l", 5 + d % 9, 4 + d % 7)
                    if key not in cache:
                        cache[key] = encode_webp_lossless(
                            np.zeros((key[2], key[1]), np.uint8)
                        )
                elif kind == 1:
                    key = ("y", 16 + d % 100, 16 + (3 * d) % 50)
                    if key not in cache:
                        cache[key] = encode_webp_lossy_stub(key[1], key[2])
                elif kind == 2:
                    key = ("x", 10 + d % 20, 8 + d % 10, 1 + d % 6,
                           (d // 4) % 2)
                    if key not in cache:
                        cache[key] = encode_webp_animated_stub(
                            key[1], key[2], key[3], has_alpha=bool(key[4])
                        )
                else:
                    key = ("xl", 6 + d % 10, 5 + d % 8, (d // 4) % 2)
                    if key not in cache:
                        img = np.full(
                            (key[2], key[1], 4), 200, np.uint8
                        )
                        img[:, :, 3] = 255
                        if key[3]:
                            img[0, 0, 3] = 0  # transparent px -> alpha
                        cache[key] = encode_webp_extended_lossless(img)
                info = parse_webp_info(cache[key])
                rows["media_id"].append(d)
                rows["variant"].append(info["variant"])
                rows["width"].append(info["width"])
                rows["height"].append(info["height"])
                rows["has_alpha"].append(int(info["has_alpha"]))
                rows["has_animation"].append(int(info["has_animation"]))
                rows["n_frames"].append(info["n_frames"])
            yield pd.DataFrame(
                {
                    "media_id": pd.array(rows["media_id"], dtype="int64"),
                    "variant": rows["variant"],
                    "width": pd.array(rows["width"], dtype="Int32"),
                    "height": pd.array(rows["height"], dtype="Int32"),
                    "has_alpha": pd.array(rows["has_alpha"], dtype="Int32"),
                    "has_animation": pd.array(
                        rows["has_animation"], dtype="Int32"
                    ),
                    "n_frames": pd.array(rows["n_frames"], dtype="Int64"),
                }
            )

    return docs.mapInPandas(
        make_and_parse,
        schema="media_id long, variant string, width int, height int, "
        "has_alpha int, has_animation int, n_frames long",
    )


_register(
    "webp_info",
    _webp_info_q,
    """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 4 AS INTEGER)
         WHEN 0 THEN 'lossless' WHEN 1 THEN 'lossy'
         WHEN 2 THEN 'extended-lossy'
         ELSE 'extended-lossless' END AS variant,
       CAST(CASE CAST(doc_id % 4 AS INTEGER)
         WHEN 0 THEN 5 + doc_id % 9
         WHEN 1 THEN 16 + doc_id % 100
         WHEN 2 THEN 10 + doc_id % 20
         ELSE 6 + doc_id % 10 END AS INTEGER) AS width,
       CAST(CASE CAST(doc_id % 4 AS INTEGER)
         WHEN 0 THEN 4 + doc_id % 7
         WHEN 1 THEN 16 + (3 * doc_id) % 50
         WHEN 2 THEN 8 + doc_id % 10
         ELSE 5 + doc_id % 8 END AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 4 IN (2, 3) AND (doc_id // 4) % 2 = 1
                 THEN 1 ELSE 0 END AS INTEGER) AS has_alpha,
       CAST(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END AS INTEGER)
         AS has_animation,
       CAST(CASE WHEN doc_id % 4 = 2 THEN 1 + doc_id % 6 ELSE 1 END
            AS BIGINT) AS n_frames
FROM documents
""",
    # WebP container census: one Arrow kernel pass, no exchanges
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


_ROBOTS_TXT = """
User-agent: evil-bot
Disallow: /

User-agent: *
Disallow: /private
Allow: /private/ok
Disallow: /*.tmp$
"""


def _robots_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RFC 9309 crawl gate: per-host robots rules (broadcast side) vs a
    # URL table — longest-pattern-wins with allow-on-tie, no-robots
    # hosts pass.  Paths rotate through no-match / disallowed /
    # allow-overrides-disallow / wildcard-$-blocked / allow-prefix
    # cases; hosts 8 and 9 have NO robots row, so their URLs pass even
    # on "blocked" paths — every verdict is a doc_id formula.
    from .extensions.urls import filter_urls_by_robots, robots_rules

    d = F.col("doc_id")

    def s(x):
        return x.cast("string")

    path = (
        F.when(d % 5 == 0, F.concat(F.lit("/public/p"), s(d % 3)))
        .when(d % 5 == 1, F.lit("/private/x"))
        .when(d % 5 == 2, F.lit("/private/ok/y"))
        .when(d % 5 == 3, F.concat(F.lit("/cache/f"), s(d % 3), F.lit(".tmp")))
        .otherwise(F.lit("/private/okno"))
    )
    urls = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn(
            "url",
            F.concat(
                F.lit("http://crawl"), s(d % 10), F.lit(".example.com"), path
            ),
        )
    )
    robots = spark.createDataFrame(
        [(f"crawl{h}.example.com", _ROBOTS_TXT) for h in range(8)],
        "host string, robots_txt string",
    )
    return filter_urls_by_robots(
        urls, robots_rules(robots, agent="atlas")
    ).select("doc_id", "allowed")


_register(
    "robots_filter",
    _robots_filter_q,
    """
SELECT doc_id,
       (doc_id % 10 >= 8) OR (doc_id % 5 NOT IN (1, 3)) AS allowed
FROM documents
""",
    # RFC 9309 gate: rules BROADCAST to the URL side, one verdict
    # group-by — URLs never ship to the robots table
    audit={"broadcast": True, "max_shuffles": 1},
)


def _warc_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-doc WARC archives (odd docs per-record-gzip — both container
    # layouts flow through one query): warcinfo + request + a 200 HTML
    # response, plus a 404 for every 5th doc.  The response URI is
    # hazard-planted with the url_dedup_groups spelling rules, and the
    # HTML carries title/entities/script-noise — every downstream field
    # is a formula of doc_id.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_warc(batches):
        from atlas_upscaling_dask_spark.sources.warc import encode_warc

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                g = d - d % 5
                uri = (
                    ("HTTP" if d % 2 == 0 else "http") + "://"
                    + ("SITE" if d % 2 == 0 else "site") + str(g % 30)
                    + ".Example.com" + (":80" if d % 3 == 0 else "")
                    + "/w/./" + str(g % 7) + ("/" if d % 2 == 0 else "")
                    + f"?utm_x={d}&k={g % 9}#{d}"
                )
                html = (
                    f"<html><head><title>Doc {d}</title><style>x "
                    "{}</style></head><body>"
                    f"<h1>H{d % 7}</h1><p>w{d % 11} &amp; tail</p>"
                    "<script>var s = '<p>noise</p>';</script></body></html>"
                ).encode()
                records = [
                    {"type": "warcinfo", "body": b"software: suite\r\n"},
                    {"type": "request", "uri": uri,
                     "body": b"GET / HTTP/1.1\r\n\r\n"},
                    # transport encodings rotate so the SAME oracle rows
                    # prove chunked/gzip decode, not just plain bodies
                    {"type": "response", "uri": uri, "status": 200,
                     "payload": html,
                     "content_encoding": "gzip" if d % 3 == 1 else None,
                     "chunked": d % 3 == 2},
                ]
                if d % 5 == 0:
                    records.append(
                        {"type": "response", "uri": uri + "&gone=1",
                         "status": 404,
                         "http_headers": {"Content-Type": "text/plain"},
                         "payload": b"gone"}
                    )
                payloads.append(
                    encode_warc(records, gzip_per_record=d % 2 == 1)
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    return docs.mapInPandas(make_warc, schema="media_id long, payload binary")


def _warc_census_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pipeline: WARC framing walk (plain + gzip members) → record
    # census by type and HTTP status — the first pass a 100 TB crawl
    # ingestion runs.
    from .sources.warc import warc_records

    return (
        warc_records(_warc_media(spark, sf_dir))
        .groupBy("warc_type", "http_status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_register(
    "warc_census",
    _warc_census_q,
    """
SELECT 'warcinfo' AS warc_type, CAST(NULL AS INTEGER) AS http_status,
       count(*) AS n FROM documents
UNION ALL
SELECT 'request', CAST(NULL AS INTEGER), count(*) FROM documents
UNION ALL
SELECT 'response', 200, count(*) FROM documents
UNION ALL
SELECT 'response', 404, count(*) FROM documents WHERE doc_id % 5 = 0
""",
    # WARC record census: narrow framing walk + one hash agg
    audit={"max_shuffles": 1, "spread_exchanges": 1},
)


def _warc_html_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WARC → 200/text-html responses → codegen'd HTML title/text
    # extraction: the crawl→documents bridge, end to end.
    from .extensions.text import extract_html_text
    from .sources.warc import warc_records

    recs = warc_records(_warc_media(spark, sf_dir))
    pages = recs.filter(
        (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
    ).select(
        "media_id", F.col("text").alias("html")
    )
    return extract_html_text(pages).select("media_id", "title", "text")


_register(
    "warc_html_extract",
    _warc_html_extract_q,
    """
SELECT doc_id AS media_id,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' H' ||
       CAST(doc_id % 7 AS VARCHAR) || ' w' ||
       CAST(doc_id % 11 AS VARCHAR) || ' & tail' AS text
FROM documents
""",
    # WARC → HTML title/text: container kernel + codegen'd regex
    # extraction, zero exchanges end to end
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _url_dedup_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Canonical-link consolidation: groups of 4 docs are the www / m. /
    # amp. / tracking-tagged variants of ONE article, all declaring the
    # same <link rel=canonical> (mixed-case, fragment-bearing — the
    # canonicalizer must clean the LINK too); docs with d%13==0 declare
    # NO canonical and dedup by fetch URL alone, leaving their three
    # groupmates consolidated without them.  Two hazard tiers on top:
    # d%5==0 declares a RELATIVE canonical (/story/N — must resolve
    # against the fetch host, NOT collide globally on the bare path),
    # and d%7==0 declares a non-hierarchical mailto: link (unusable →
    # fetch-URL fallback, not counted declared).  Survivors/counts
    # analytic.
    from .extensions.urls import url_dedup_canonical

    d = F.col("doc_id")
    g = d - d % 4

    def s(x):
        return x.cast("string")

    fetch = F.concat(
        F.when(d % 4 == 0, F.lit("http://www.art"))
        .when(d % 4 == 1, F.lit("http://m.art"))
        .when(d % 4 == 2, F.lit("http://amp.art"))
        .otherwise(F.lit("http://www.art")),
        s(g % 50), F.lit(".example.com/story/"), s(g % 11),
        F.when(d % 4 == 3, F.concat(F.lit("?utm_source=t"), s(d)))
        .otherwise(F.lit("")),
    )
    canonical = (
        F.when(d % 13 == 0, F.lit(None).cast("string"))
        .when(d % 5 == 0, F.concat(F.lit("/story/"), s(g % 11)))
        .when(d % 7 == 0, F.lit("mailto:editor@example.com"))
        .otherwise(
            F.concat(
                F.lit("HTTP://Art"), s(g % 50), F.lit(".example.com/story/"),
                s(g % 11), F.lit("#top"),
            )
        )
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("url", fetch)
        .withColumn("canonical_link", canonical)
    )
    return url_dedup_canonical(docs)


_register(
    "url_dedup_canonical",
    _url_dedup_canonical_q,
    """
WITH m AS (
  SELECT doc_id,
         doc_id - doc_id % 4 AS g,
         CASE WHEN doc_id % 13 = 0 THEN 'none'
              WHEN doc_id % 5 = 0 THEN 'relative'
              WHEN doc_id % 7 = 0 THEN 'mailto'
              ELSE 'absolute' END AS tier,
         CASE WHEN doc_id % 4 = 0 THEN 'http://www.art'
              WHEN doc_id % 4 = 1 THEN 'http://m.art'
              WHEN doc_id % 4 = 2 THEN 'http://amp.art'
              ELSE 'http://www.art' END ||
         CAST((doc_id - doc_id % 4) % 50 AS VARCHAR) ||
         '.example.com/story/' ||
         CAST((doc_id - doc_id % 4) % 11 AS VARCHAR) AS fetch_canon
  FROM documents
),
keyed AS (
  SELECT doc_id,
         tier IN ('absolute', 'relative') AS used,
         CASE WHEN tier = 'absolute'
              THEN 'http://art' || CAST(g % 50 AS VARCHAR) ||
                   '.example.com/story/' || CAST(g % 11 AS VARCHAR)
              ELSE fetch_canon
         END AS canonical_url
  FROM m
)
SELECT canonical_url,
       min(doc_id) AS survivor_doc_id,
       count(*) AS n_dups,
       CAST(sum(CASE WHEN used THEN 1 ELSE 0 END) AS BIGINT)
         AS n_declared
FROM keyed
GROUP BY 1
""",
    # canonical-link dedup: narrow double-canonicalize + one agg
    audit={"max_shuffles": 1, "codegen": True, "no_python_udf": True},
)


def _page_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OpenGraph/meta/canonical-link/lang extraction: attribute orders
    # alternate with doc_id, entities planted, og:title absent for
    # every 7th doc, lang absent for d%3==2 — all five fields closed
    # formulas (NULL included).
    from .extensions.text import extract_page_metadata

    d = F.col("doc_id")

    def s(x):
        return x.cast("string")

    og_title = F.when(
        d % 7 != 0,
        F.concat(F.lit('<meta property="og:title" content="OG '), s(d % 9),
                 F.lit(' &amp; co"/>')),
    ).otherwise(F.lit(""))
    og_desc = F.concat(
        F.lit('<meta content="D'), s(d % 4),
        F.lit(' text" property="og:description">'),
    )
    meta_desc = F.concat(
        F.lit('<meta name="description" content="M '), s(d % 6),
        F.lit('">'),
    )
    canonical = F.concat(
        F.lit('<link rel="canonical" href="https://c'), s(d % 5),
        F.lit(".example.com/p/"), s(d % 3), F.lit('"/>'),
    )
    lang = (
        F.when(d % 3 == 0, F.lit('<html lang="en">'))
        .when(d % 3 == 1, F.lit('<html lang="FR-ca">'))
        .otherwise(F.lit("<html>"))
    )
    html = F.concat(
        lang, F.lit("<head>"), og_title, og_desc, meta_desc, canonical,
        F.lit("</head><body>x</body></html>"),
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("html", html)
    )
    return extract_page_metadata(docs).drop("html")


_register(
    "page_metadata",
    _page_metadata_q,
    """
SELECT doc_id,
       CASE WHEN doc_id % 7 != 0
            THEN 'OG ' || CAST(doc_id % 9 AS VARCHAR) || ' & co' END
         AS og_title,
       'D' || CAST(doc_id % 4 AS VARCHAR) || ' text' AS og_description,
       'M ' || CAST(doc_id % 6 AS VARCHAR) AS meta_description,
       'https://c' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/p/' ||
       CAST(doc_id % 3 AS VARCHAR) AS canonical_link,
       CASE WHEN doc_id % 3 = 0 THEN 'en'
            WHEN doc_id % 3 = 1 THEN 'fr-ca' END AS page_lang
FROM documents
""",
    # page metadata (OpenGraph/description/canonical-link/lang):
    # one narrow regexp projection
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _warc_errors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-record error containment through the kernel: every 4th doc's
    # second response rotates through the REAL content codings the
    # modern web serves — gzip, brotli, zstd (both decoded via
    # pyarrow's bundled reference codecs) — except every 4th document,
    # which carries Content-Encoding: compress (LZW, registered but
    # extinct and unsupported): that one must surface as ONE error row
    # while its archive-mates decode normally; a task-killing reader
    # would return zero rows for the whole archive instead.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_warc(batches):
        from atlas_upscaling_dask_spark.sources.warc import encode_warc

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                good = f"<p>ok {d}</p>".encode()
                second = f"<p>zz {d}</p>".encode()
                records = [
                    {"type": "response", "uri": f"http://e.com/a/{d}",
                     "status": 200, "payload": good},
                    {"type": "response", "uri": f"http://e.com/b/{d}",
                     "status": 200, "payload": second,
                     **({"http_headers": {"Content-Encoding": "compress"}}
                        if d % 4 == 0
                        else {"content_encoding":
                              ["gzip", "br", "zstd"][d % 3]})},
                ]
                payloads.append(encode_warc(records))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    from .sources.warc import warc_records

    media = docs.mapInPandas(
        make_warc, schema="media_id long, payload binary"
    )
    recs = warc_records(media).filter(F.col("warc_type") == "response")
    return recs.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_responses"),
        F.sum(
            F.when(F.col("error").isNotNull(), 1).otherwise(0)
        ).alias("n_errors"),
        F.min("text").alias("first_text"),
    )


_register(
    "warc_errors",
    _warc_errors_q,
    """
SELECT doc_id AS media_id,
       CAST(2 AS BIGINT) AS n_responses,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_errors,
       '<p>ok ' || CAST(doc_id AS VARCHAR) || '</p>' AS first_text
FROM documents
""",
    # error containment census: kernel + one hash agg
    audit={"max_shuffles": 1, "spread_exchanges": 1},
)


def _warc_zstd_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # .warc.zst container proof: per-doc archives alternate between
    # PER-RECORD zstd frames (even docs — the IIPC layout minus the
    # dictionary) and ONE whole-file frame (odd docs); inside, the
    # second response rotates HTTP content codings (gzip/br/zstd), so
    # the row composes container transport x payload coding.  Both
    # layouts must scan identically — frames stream-decode as one
    # sequence and records self-delimit.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_warc(batches):
        from atlas_upscaling_dask_spark.sources.warc import (
            _codec_compress,
            encode_warc,
        )

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                records = [
                    {"type": "response", "uri": f"http://z.com/a/{d}",
                     "status": 200,
                     "payload": f"<p>aa {d}</p>".encode()},
                    {"type": "response", "uri": f"http://z.com/b/{d}",
                     "status": 200,
                     "payload": f"<p>bb {d}</p>".encode(),
                     "content_encoding": ["gzip", "br", "zstd"][d % 3]},
                ]
                if d % 2 == 0:
                    payloads.append(
                        encode_warc(records, zstd_per_record=True)
                    )
                else:
                    payloads.append(
                        _codec_compress("zstd", encode_warc(records))
                    )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    from .sources.warc import warc_records

    media = docs.mapInPandas(
        make_warc, schema="media_id long, payload binary"
    )
    recs = warc_records(media).filter(F.col("warc_type") == "response")
    return recs.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_responses"),
        F.min("text").alias("first_text"),
        F.max("text").alias("last_text"),
    )


_register(
    "warc_zstd_scan",
    _warc_zstd_scan_q,
    """
SELECT doc_id AS media_id,
       CAST(2 AS BIGINT) AS n_responses,
       '<p>aa ' || CAST(doc_id AS VARCHAR) || '</p>' AS first_text,
       '<p>bb ' || CAST(doc_id AS VARCHAR) || '</p>' AS last_text
FROM documents
""",
    # .warc.zst container scan: kernel + one hash agg; the zstd /
    # brotli decode is executor-local (pyarrow codecs), no extra
    # exchange vs the plain-warc row
    audit={"max_shuffles": 1, "spread_exchanges": 1},
)


def _warc_cdx_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CDXJ capture index: per-doc archives alternate plain and
    # per-record-gzip layouts (both offset-bearing); every response
    # indexes to (SURT, 14-digit ts, url, status, mime) — all closed
    # formulas.  Offsets/digests are layout-dependent bytes, proven by
    # the random-access fetch test instead of the SQL oracle.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_warc(batches):
        from atlas_upscaling_dask_spark.sources.warc import encode_warc

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                records = [
                    {"type": "response",
                     "uri": f"http://E{d % 5}.Example.com/P/{d}?b=2&a=1",
                     "status": 200, "date": "2026-03-04T05:06:07Z",
                     "payload": f"<p>p {d}</p>".encode()},
                    {"type": "response",
                     "uri": f"http://E{d % 5}.Example.com/Q/{d}",
                     "status": 404, "date": "2026-03-04T05:06:08Z",
                     "payload": b"nope"},
                ]
                payloads.append(
                    encode_warc(records, gzip_per_record=(d % 2 == 0))
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    from .sources.cdx import warc_cdx_index

    media = docs.mapInPandas(
        make_warc, schema="media_id long, payload binary"
    )
    return warc_cdx_index(media).select(
        "media_id", "surt", "ts", "url", "status", "mime"
    )


_register(
    "warc_cdx_index",
    _warc_cdx_index_q,
    """
SELECT doc_id AS media_id,
       'com,example,e' || CAST(doc_id % 5 AS VARCHAR) || ')/p/'
         || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS surt,
       '20260304050607' AS ts,
       'http://E' || CAST(doc_id % 5 AS VARCHAR) || '.Example.com/P/'
         || CAST(doc_id AS VARCHAR) || '?b=2&a=1' AS url,
       CAST(200 AS INTEGER) AS status,
       'text/html' AS mime
FROM documents
UNION ALL
SELECT doc_id AS media_id,
       'com,example,e' || CAST(doc_id % 5 AS VARCHAR) || ')/q/'
         || CAST(doc_id AS VARCHAR) AS surt,
       '20260304050608' AS ts,
       'http://E' || CAST(doc_id % 5 AS VARCHAR) || '.Example.com/Q/'
         || CAST(doc_id AS VARCHAR) AS url,
       CAST(404 AS INTEGER) AS status,
       'text/html' AS mime
FROM documents
""",
    # CDXJ capture index: archive -> index rows is ONE narrow
    # kernel pass, zero exchanges (sorting/bucketing the index is
    # the CALLER's layout decision at 100 TB)
    audit={"max_shuffles": 0, "spread_exchanges": 1, "no_python_udf": False},
)


def _main_content_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Boilerplate removal: nav + footer (short, link-saturated) drop;
    # two prose blocks (one with an inline link) survive — the
    # text/link-density heuristic as pure codegen'd HOFs, expected
    # output a closed formula.
    from .extensions.text import extract_main_content

    d = F.col("doc_id")

    def s(x):
        return x.cast("string")

    html = F.concat(
        F.lit('<div><a href="/">Home</a> <a href="/a">About</a> '
              '<a href="/c">Contact</a></div><p>Content paragraph number '),
        s(d % 5),
        F.lit(" with enough prose to pass the minimum length filter."
              "</p><p>Second block "),
        s(d % 3),
        F.lit(' keeps its <a href="/r">inline link</a> inside a longer '
              "sentence that survives.</p>"
              '<footer><a href="/t">Terms</a> <a href="/p">Priv</a>'
              "</footer>"),
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("html", html)
    )
    return extract_main_content(docs).select("doc_id", "main_text")


_register(
    "main_content_extract",
    _main_content_extract_q,
    """
SELECT doc_id,
       'Content paragraph number ' || CAST(doc_id % 5 AS VARCHAR) ||
       ' with enough prose to pass the minimum length filter.' ||
       chr(10) ||
       'Second block ' || CAST(doc_id % 3 AS VARCHAR) ||
       ' keeps its inline link inside a longer sentence that survives.'
         AS main_text
FROM documents
""",
    # boilerplate removal: split/transform/filter HOFs — zero
    # Python, zero exchanges, codegen end to end
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _warc_charset_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Charset-aware text extraction: pages rotate through UTF-8
    # (charset in Content-Type), ISO-8859-1 (é as 0xE9, charset in
    # Content-Type) and windows-1252 (€ as 0x80, declared ONLY by a
    # <meta charset> tag) — `decode_text` must pick the right decoder
    # per page or the non-ASCII characters come out wrong.
    import pandas as pd

    # Group-hash repartition (r12): spread the one-split doc_id frame
    # so the per-payload codec work runs on every core; the exchange
    # moves 8-byte ids only (see `_phash_media`).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("doc_id") - F.col("doc_id") % 5,
        )
    )

    def make_warc(batches):
        from atlas_upscaling_dask_spark.sources.warc import encode_warc

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                k = d % 3
                if k == 0:
                    body = (
                        f"<html><title>Doc {d}</title>"
                        f"<p>café € {d % 7}</p></html>"
                    ).encode("utf-8")
                    ct = "text/html; charset=utf-8"
                elif k == 1:
                    body = (
                        f"<html><title>Doc {d}</title>"
                        f"<p>café {d % 7}</p></html>"
                    ).encode("iso-8859-1")
                    ct = "text/html; charset=ISO-8859-1"
                else:
                    body = (
                        f'<html><meta charset="windows-1252">'
                        f"<title>Doc {d}</title>"
                        f"<p>café € {d % 7}</p></html>"
                    ).encode("windows-1252")
                    ct = "text/html"
                payloads.append(
                    encode_warc([
                        {"type": "response", "status": 200,
                         "uri": f"http://cs.example.com/{d}",
                         "http_headers": {"Content-Type": ct},
                         "payload": body}
                    ])
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    from .extensions.text import extract_html_text
    from .sources.warc import warc_records

    media = docs.mapInPandas(
        make_warc, schema="media_id long, payload binary"
    )
    # charset decode happens IN the warc_records kernel (decode_text
    # chain) — the same column the streaming crawl ingest consumes
    recs = warc_records(media).filter(F.col("http_status") == 200)
    pages = recs.select("media_id", F.col("text").alias("html"))
    return extract_html_text(pages).select("media_id", "title", "text")


_register(
    "warc_charset_extract",
    _warc_charset_extract_q,
    """
SELECT doc_id AS media_id,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' café ' ||
       CASE WHEN doc_id % 3 = 1 THEN '' ELSE '€ ' END ||
       CAST(doc_id % 7 AS VARCHAR) AS text
FROM documents
""",
    # charset-aware variant: BOM/header/meta sniff + fallback
    # decode, still one narrow chain
    audit={"max_shuffles": 0, "spread_exchanges": 1},
)


def _warc_url_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The composed crawl-hygiene path: WARC records → 200 responses →
    # canonical-URL dedup on the target URI.  Groups of 5 docs share a
    # canonical URI under different raw spellings — convergence proves
    # the whole chain (framing, HTTP split, canonicalizer, dedup).
    from .extensions.urls import url_dedup
    from .sources.warc import warc_records

    recs = warc_records(_warc_media(spark, sf_dir))
    resp = recs.filter(F.col("http_status") == 200).select(
        "media_id", F.col("target_uri").alias("url")
    )
    return url_dedup(resp, url_col="url", id_col="media_id")


_register(
    "warc_url_dedup",
    _warc_url_dedup_q,
    """
WITH c AS (
  SELECT doc_id,
         'http://site' || CAST((doc_id - doc_id % 5) % 30 AS VARCHAR) ||
         '.example.com/w/' || CAST((doc_id - doc_id % 5) % 7 AS VARCHAR) ||
         '?k=' || CAST((doc_id - doc_id % 5) % 9 AS VARCHAR) AS canonical_url
  FROM documents
)
SELECT canonical_url,
       min(doc_id) AS survivor_media_id,
       count(*) AS n_dups
FROM c
GROUP BY 1
""",
    # the composed crawl-hygiene chain: WARC → responses →
    # canonical-URL dedup — one group-by is the only exchange
    audit={"max_shuffles": 1, "spread_exchanges": 1},
)


def _text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.text import text_stats

    return text_stats(load_table(spark, sf_dir, "documents"))


# Derived from the engine's own list — a hardcoded copy once drifted
# ('is' crept in) and the oracle silently stopped validating stopwords.
from .extensions.text import STOPWORDS as _STOPWORDS

_STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"

_register(
    "prepare_rag_corpus",
    _prepare_rag_corpus_q,
    _rag_oracle(),
    # RAG-prep composition: dedup window (1, materialized once via
    # the checkpoint — without it the gate+dedup subtree re-executes
    # per consumer: 20 exchanges) + the LM count/score chain (~8,
    # all keyed on vocab-bounded keys) + score join + 1-row mean
    # agg; chunk/split stages add NO exchange
    audit={"max_shuffles": 12, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)

_register(
    "text_stats",
    _text_stats_q,
    f"""
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS n_chars,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INTEGER) AS n_punct,
       CAST(len(list_filter(string_split(text, ' '), x -> list_contains({_STOPLIST_SQL}, x))) AS INTEGER) AS n_stopwords,
       len(list_filter(string_split(text, ' '), x -> list_contains({_STOPLIST_SQL}, x))) / len(string_split(text, ' ')) AS stopword_ratio,
       length(text) / len(string_split(text, ' ')) AS chars_per_token
FROM documents
""",
)


def _quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.text import quality_score

    return quality_score(load_table(spark, sf_dir, "documents"))


_register(
    "quality_score",
    _quality_score_q,
    f"""
WITH s AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         len(list_filter(string_split(text, ' '), x -> list_contains({_STOPLIST_SQL}, x))) AS n_stop
  FROM documents
)
SELECT doc_id,
       ((CASE WHEN n_chars >= 64 AND n_chars <= 100000 THEN 1.0 ELSE 0.0 END)
        + (CASE WHEN n_stop / n_tokens >= 0.05 THEN 1.0 ELSE 0.0 END)
        + (CASE WHEN n_punct * 4 <= n_tokens THEN 1.0 ELSE 0.0 END)) / 3 AS quality
FROM s
""",
)


def _lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.text import lang_id

    return lang_id(load_table(spark, sf_dir, "documents"))


_register(
    "lang_id",
    _lang_id_q,
    """
WITH h AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['der','die','das','und','ist'], x))) AS INTEGER) AS hits_de,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to'], x))) AS INTEGER) AS hits_en,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['el','la','de','y','es'], x))) AS INTEGER) AS hits_es,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['le','la','et','est','de'], x))) AS INTEGER) AS hits_fr
  FROM documents
)
SELECT doc_id,
       CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
            WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
            WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
            WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred,
       CAST(greatest(hits_de, hits_en, hits_es, hits_fr) AS INTEGER) AS lang_hits
FROM h
""",
)


def _mixture_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # domain-mixture resampling to a 50/30/20 three-source mix of 40
    # rows: quotas fold into a CASE literal, ranks are salted md5 of the
    # key — reproducible across engines, so the oracle replays the exact
    # sample membership.
    from .extensions.training import mixture_resample

    return mixture_resample(
        load_table(spark, sf_dir, "documents"),
        weights={"src0": 0.5, "src1": 0.3, "src2": 0.2},
        total=40,
    )


_register(
    "mixture_resample",
    _mixture_resample_q,
    """
WITH ranked AS (
  SELECT doc_id, text, lang, source, n_chars,
         CASE source WHEN 'src0' THEN 20 WHEN 'src1' THEN 12
                     WHEN 'src2' THEN 8 ELSE 0 END AS q,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(concat('0', ':', CAST(doc_id AS VARCHAR))), doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, text, lang, source, n_chars
FROM ranked WHERE q > 0 AND rk <= q
""",
    # domain mixing: downsample = ONE window shuffle keyed by source;
    # upsample = narrow projection + explode, zero exchanges
    audit={"max_shuffles": 1, "codegen": True, "no_python_udf": True},
)


def _mixture_upsample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # epoch-style repetition: src0 ×2.3, src1 ×0.5, src2 ×1 — fractional
    # epochs are md5-hex-band membership, replayed exactly by the oracle.
    from .extensions.training import mixture_upsample

    return mixture_upsample(
        load_table(spark, sf_dir, "documents"),
        weights={"src0": 2.3, "src1": 0.5, "src2": 1.0},
    )


def _upsample_edge(frac: float) -> str:
    return format(min(int(frac * 16**8), 16**8 - 1), "08x")


_register(
    "mixture_upsample",
    _mixture_upsample_q,
    f"""
WITH c AS (
  SELECT doc_id, text, lang, source, n_chars,
         CASE source
           WHEN 'src0' THEN 2 + CASE WHEN substr(md5(concat('up0', ':', CAST(doc_id AS VARCHAR))), 1, 8) < '{_upsample_edge(0.3)}' THEN 1 ELSE 0 END
           WHEN 'src1' THEN 0 + CASE WHEN substr(md5(concat('up0', ':', CAST(doc_id AS VARCHAR))), 1, 8) < '{_upsample_edge(0.5)}' THEN 1 ELSE 0 END
           WHEN 'src2' THEN 1
           ELSE 0 END AS n
  FROM documents
)
SELECT doc_id, text, lang, source, n_chars, CAST(epoch AS INTEGER) AS epoch
FROM c, unnest(generate_series(1, n)) AS t(epoch)
WHERE n >= 1
""",
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _model_quality_screen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fasttext-style linear quality model: weights fold into one
    # codegen'd expression; margin is a fixed left-to-right IEEE chain
    # the oracle mirrors bitwise.  score (sigmoid) is exercised by the
    # operator but projected out here — exp() differs across engines in
    # the last ulp; keep is decided on the margin, so it stays exact.
    from .extensions.text import model_quality_score

    return model_quality_score(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "margin", "keep"
    )


_register(
    "model_quality_screen",
    _model_quality_screen_q,
    f"""
WITH s AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         len(list_filter(string_split(text, ' '), x -> list_contains({_STOPLIST_SQL}, x))) AS n_stopwords,
         len(list_filter(string_split(text, ' '), x -> list_contains({_STOPLIST_SQL}, x))) / len(string_split(text, ' ')) AS stopword_ratio,
         length(text) / len(string_split(text, ' ')) AS chars_per_token
  FROM documents
)
SELECT doc_id,
       -0.4::DOUBLE + 0.0005::DOUBLE * n_chars + 0.004::DOUBLE * n_tokens
            + (-0.06::DOUBLE) * n_punct + 0.09::DOUBLE * n_stopwords
            + 2.5::DOUBLE * stopword_ratio
            + (-0.08::DOUBLE) * chars_per_token AS margin,
       (-0.4::DOUBLE + 0.0005::DOUBLE * n_chars + 0.004::DOUBLE * n_tokens
            + (-0.06::DOUBLE) * n_punct + 0.09::DOUBLE * n_stopwords
            + 2.5::DOUBLE * stopword_ratio
            + (-0.08::DOUBLE) * chars_per_token) >= 0.0::DOUBLE AS keep
FROM s
""",
    # linear quality model: weights fold into ONE codegen'd narrow
    # projection — model scoring at 100 TB costs zero exchanges
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _corpus_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.text import corpus_report

    return corpus_report(load_table(spark, sf_dir, "documents"))


_register(
    "corpus_report",
    _corpus_report_q,
    f"""
WITH h AS (
  SELECT text,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         len(list_filter(string_split(text, ' '), x -> list_contains({_STOPLIST_SQL}, x))) / len(string_split(text, ' ')) AS stopword_ratio,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['der','die','das','und','ist'], x))) AS INTEGER) AS hits_de,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to'], x))) AS INTEGER) AS hits_en,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['el','la','de','y','es'], x))) AS INTEGER) AS hits_es,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['le','la','et','est','de'], x))) AS INTEGER) AS hits_fr
  FROM documents
),
base AS (
  SELECT CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
              WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
              WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
              WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
              ELSE 'fr' END AS lang_pred,
         n_tokens,
         (CASE WHEN n_chars >= 64 AND n_chars <= 100000 THEN 1 ELSE 0 END
          + CASE WHEN stopword_ratio >= 0.05 THEN 1 ELSE 0 END
          + CASE WHEN n_punct * 4 <= n_tokens THEN 1 ELSE 0 END) AS qpts,
         text
  FROM h
)
SELECT COALESCE(lang_pred, 'ALL') AS lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(qpts) AS BIGINT) AS quality_points,
       CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
FROM base
GROUP BY ROLLUP(lang_pred)
""",
    # corpus dashboard: rollup + countDistinct expand — bounded
    audit={"max_shuffles": 3, "codegen": True, "no_python_udf": True},
)


def _vocab_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.text import vocab_topk

    return vocab_topk(load_table(spark, sf_dir, "documents"), k=100)


_register(
    "vocab_topk",
    _vocab_topk_q,
    """
WITH counts AS (
  SELECT token, count(*) AS n FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
  ) GROUP BY token
)
SELECT token, n, CAST(rank AS INTEGER) AS rank FROM (
  SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM counts
) WHERE rank <= 100
""",
    # vocab induction: ONE count shuffle; the top-k boundary is a
    # rank filter, never a global sort of the vocabulary
    audit={"max_shuffles": 2, "codegen": True, "no_python_udf": True},
)


def _oov_rate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # coverage of the induced top-100 vocabulary over the same corpus —
    # vocab broadcasts as an inlined array, scoring is one narrow pass
    from .extensions.text import oov_rate, vocab_topk

    docs = load_table(spark, sf_dir, "documents")
    return oov_rate(docs, vocab_topk(docs, k=100))


_register(
    "oov_rate",
    _oov_rate_q,
    """
WITH counts AS (
  SELECT token, count(*) AS n FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
  ) GROUP BY token
),
vocab AS (
  SELECT token FROM (
    SELECT token, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
    FROM counts
  ) WHERE rank <= 100
),
vl AS (SELECT list(token) AS vt FROM vocab)
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       CAST(len(list_filter(string_split(text, ' '),
                            x -> NOT list_contains(vt, x))) AS INTEGER) AS n_oov,
       len(list_filter(string_split(text, ' '), x -> NOT list_contains(vt, x)))
         / len(string_split(text, ' ')) AS oov_frac
FROM documents, vl
""",
)


def _doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.text import doc_fingerprint

    return doc_fingerprint(load_table(spark, sf_dir, "documents"))


_register(
    "doc_fingerprint",
    _doc_fingerprint_q,
    """
WITH ex AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         unnest(range(len(string_split(text, ' ')))) AS i
  FROM documents
)
SELECT doc_id,
       CAST(sum((length(w[i+1]) * (i + 1) + i) % 2147483647) % 2147483647 AS BIGINT) AS fingerprint
FROM ex GROUP BY doc_id
""",
)


def _multimodal_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.multimodal import media_from_documents, payload_digest

    return payload_digest(media_from_documents(load_table(spark, sf_dir, "documents")))


_register(
    "multimodal_digest",
    _multimodal_digest,
    """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
""",
)


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-batched mapInPandas feature extraction over binary payloads.
    # The fake decode tiles payload bytes to an 8x8x3 image, so each
    # channel feature is (integer byte sum)/64 — round(value*64) recovers
    # the exact channel sum (float32 error <= 255*2^-24*64 ~ 1e-3 << 0.5),
    # giving an integer-exact oracle AND a scalar (hashable) result shape.
    from .extensions.multimodal import extract_features, media_from_documents

    feats = extract_features(
        media_from_documents(load_table(spark, sf_dir, "documents")), fake=True
    )
    return feats.select(
        "media_id",
        "n_bytes",
        "sha256",
        F.posexplode("features").alias("channel", "value"),
    ).select(
        "media_id",
        "n_bytes",
        "sha256",
        F.col("channel").cast("int").alias("channel"),
        F.round(F.col("value") * 64).cast("bigint").alias("chan_sum"),
    )


_register(
    "multimodal_features",
    _multimodal_features,
    """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n,
         sha256(text) AS sha256
  FROM documents
),
bytes AS (
  SELECT doc_id, n, sha256, i,
         strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+1, 1)) * 16
       + strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+2, 1)) - 17 AS byte
  FROM b, range(192) t(i)
)
SELECT doc_id AS media_id,
       CAST(n AS BIGINT) AS n_bytes,
       sha256,
       CAST(i % 3 AS INTEGER) AS channel,
       CAST(sum(byte) AS BIGINT) AS chan_sum
FROM bytes
GROUP BY doc_id, n, sha256, i % 3
""",
    # Arrow-batched feature extraction + posexplode: fully narrow
    audit={"no_shuffle": True},
)


_TIFF_FIXTURE_PATH: str | None = None
_MHD_FIXTURE_PATH: str | None = None


def _mhd_fixture() -> str:
    """Write the FIXTURES.md §1 cube as an MHD header + raw volume ONCE
    per process (same caching rationale as :func:`_tiff_fixture`) —
    big-endian on disk so the scan's byte-order normalization (T8,
    ``upscale_streaming.py:23-57``) is exercised under the driver gate
    too, not just in pytest."""
    global _MHD_FIXTURE_PATH
    if _MHD_FIXTURE_PATH is None:
        import atexit
        import os
        import shutil
        import tempfile

        import numpy as np

        z, y, x = np.meshgrid(
            np.arange(16), np.arange(16), np.arange(16), indexing="ij"
        )
        vol = (15564 + (z // 4) * 16 + (y // 4) * 4 + (x // 4)).astype(">u4")
        d = tempfile.mkdtemp(prefix="mhd_fixture_")
        atexit.register(shutil.rmtree, d, True)
        with open(os.path.join(d, "cube.raw"), "wb") as fh:
            fh.write(vol.tobytes())
        with open(os.path.join(d, "cube.mhd"), "w") as fh:
            fh.write(
                "ObjectType = Image\n"
                "NDims = 3\n"
                "DimSize = 16 16 16\n"
                "ElementSpacing = 25.0 25.0 25.0\n"
                "ElementType = MET_UINT\n"
                "ByteOrderMSB = True\n"
                "ElementDataFile = cube.raw\n"
            )
        _MHD_FIXTURE_PATH = os.path.join(d, "cube.mhd")
    return _MHD_FIXTURE_PATH


def _tiff_fixture() -> str:
    """Write the FIXTURES.md §1 cube as a TIFF ONCE per process.

    The registered query runs repeatedly (correctness gate + best-of-N
    bench timing); caching keeps the untimed fixture write out of the
    timed scan and stops temp-dir accumulation.  The single directory is
    removed at interpreter exit."""
    global _TIFF_FIXTURE_PATH
    if _TIFF_FIXTURE_PATH is None:
        import atexit
        import os
        import shutil
        import tempfile

        import numpy as np

        from .sources.tiff import write_tiff

        z, y, x = np.meshgrid(
            np.arange(16), np.arange(16), np.arange(16), indexing="ij"
        )
        vol = (15564 + (z // 4) * 16 + (y // 4) * 4 + (x // 4)).astype("uint32")
        d = tempfile.mkdtemp(prefix="tiff_fixture_")
        atexit.register(shutil.rmtree, d, True)
        path = os.path.join(d, "cube.tif")
        write_tiff(path, vol, rows_per_strip=4)
        _TIFF_FIXTURE_PATH = path
    return _TIFF_FIXTURE_PATH


def _vox_tiff_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S7 end-to-end: the FIXTURES.md §1 cube written as a multi-page
    # baseline TIFF (pure-numpy writer), scanned back with the
    # distributed strip range-read path, landed in COO — checked against
    # the same SQL cube every other vox_* query uses.
    from .sources.tiff import read_tiff_chunks
    from .volume import chunks_to_voxels

    chunks, _info = read_tiff_chunks(spark, _tiff_fixture(), chunk=(8, 8, 8))
    return chunks_to_voxels(chunks).select("z", "y", "x", "label")


_register(
    "vox_tiff_scan",
    _vox_tiff_scan,
    f"""
WITH {VOX_CTE}
SELECT z, y, x, label FROM voxels
""",
    # TIFF scan → COO: grid repartition is the ONLY exchange; the
    # strip reads and the payload explode are narrow
    audit={"max_shuffles": 1},
)


def _vox_mhd_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S1-S3 + T8 end-to-end under the driver gate: the reference's OWN
    # input format (MHD header + raw volume, upscale_streaming.py:23-57)
    # written BIG-endian, range-read distributed, byte-order normalized,
    # landed in COO — vs the same SQL cube every vox_* query uses.
    from .sources.mhd import read_mhd_chunks
    from .volume import chunks_to_voxels

    chunks, _hdr = read_mhd_chunks(spark, _mhd_fixture(), chunk=(8, 8, 8))
    return chunks_to_voxels(chunks).select("z", "y", "x", "label")


_register(
    "vox_mhd_scan",
    _vox_mhd_scan,
    f"""
WITH {VOX_CTE}
SELECT z, y, x, label FROM voxels
""",
)


def _vox_tiff_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # K6 BOTH directions under the driver gate: the ordered streaming
    # export (one range-sort exchange; the driver assembles one (Y,X)
    # plane at a time, never the volume — the reference's slice-wise
    # BigTIFF loop, anno_upsampling.py:112-118) writes the fixture cube
    # as a BigTIFF, and the distributed strip scan reads it back.
    import os
    import tempfile

    from .sinks.writer import export_tiff
    from .sources.tiff import read_tiff_chunks
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    d = tempfile.mkdtemp(prefix="tiff_export_rt_")
    path = os.path.join(d, "cube.tif")
    export_tiff(chunks_to_voxels(chunks), path, FIXTURE_META)
    back, _info = read_tiff_chunks(spark, path, chunk=(8, 8, 8))
    return chunks_to_voxels(back).select("z", "y", "x", "label")


_register(
    "vox_tiff_export_roundtrip",
    _vox_tiff_export_roundtrip,
    f"WITH {VOX_CTE}\nSELECT z, y, x, label FROM voxels",
)


def _vox_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Morton (Z-order) code over the fixture cube — the clustering key
    # behind multi-axis file skipping; pure shift/mask arithmetic the
    # oracle replays digit-for-digit.
    from .operators.zorder import morton_expr

    return synthetic_voxels(spark).select(
        "z", "y", "x", morton_expr(["z", "y", "x"], bits=4).alias("morton")
    )


from .operators.zorder import morton_sql as _morton_sql  # noqa: E402

_register(
    "vox_zorder_code",
    _vox_zorder_code,
    f"""
WITH {VOX_CTE}
SELECT z, y, x, {_morton_sql(["z", "y", "x"], bits=4)} AS morton
FROM voxels
""",
    # Morton codes: pure shift/mask projection — zero exchanges
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _cdc_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CDC changelog apply: a deterministic synthetic changelog over the
    # documents snapshot — every 10th doc re-crawled ([v2] text), every
    # 17th taken down; latest-wins election, tombstones dropped.
    from .operators.merge import apply_changelog

    docs = load_table(spark, sf_dir, "documents")
    changes = docs.filter(
        (F.col("doc_id") % 10 == 0) | (F.col("doc_id") % 17 == 0)
    ).select(
        "doc_id",
        F.col("doc_id").alias("seq"),
        F.when(F.col("doc_id") % 17 == 0, "delete").otherwise("upsert").alias("op"),
        F.concat(F.lit("[v2] "), F.col("text")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return apply_changelog(docs, changes, key_col="doc_id")


_register(
    "cdc_apply",
    _cdc_apply_q,
    """
WITH base AS (
  SELECT doc_id, -1 AS seq, 'upsert' AS op, text, lang, source, n_chars FROM documents
),
changes AS (
  SELECT doc_id, doc_id AS seq,
         CASE WHEN doc_id % 17 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         concat('[v2] ', text) AS text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0 OR doc_id % 17 = 0
),
u AS (SELECT * FROM base UNION ALL SELECT * FROM changes),
won AS (
  SELECT doc_id, arg_max(op, seq) AS op, arg_max(text, seq) AS text,
         arg_max(lang, seq) AS lang, arg_max(source, seq) AS source,
         arg_max(n_chars, seq) AS n_chars
  FROM u GROUP BY doc_id
)
SELECT doc_id, text, lang, source, n_chars FROM won WHERE op != 'delete'
""",
    # CDC apply: union + ONE keyed max-struct aggregate — the same
    # single-shuffle lower bound a warehouse MERGE pays, with
    # map-side partials (an election window would forfeit them)
    audit={"max_shuffles": 1, "codegen": True, "no_python_udf": True},
)


def _vox_upscale_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The chunk-packed bulk path (COO→chunks→np.repeat kernel→COO),
    # checked against the same oracle as the COO path: proves the two
    # volume representations agree end-to-end.
    from .operators.upscale import upscale_chunks
    from .volume import FIXTURE_META, chunks_to_voxels, voxels_to_chunks

    chunks = voxels_to_chunks(synthetic_voxels(spark), FIXTURE_META, chunk=(8, 8, 8))
    return chunks_to_voxels(upscale_chunks(chunks, 2))


_register(
    "vox_upscale_chunkpath",
    _vox_upscale_chunkpath,
    ORACLES["vox_upscale2"],
)


# ---------------------------------------------------------------------------
# Remaining coverage: grouping sets, V2 metadata report, approx aggregates.
# ---------------------------------------------------------------------------


def _grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GROUPING SETS via spark.sql (the DataFrame API exposes only
    # rollup/cube; SQL covers the general form).
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


_register(
    "grouping_sets",
    _grouping_sets,
    """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)


def _vox_meta_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # V2 — metadata report: dims, spacing, physical size in mm
    # (print_metadata.py:4-13: mm = size*spacing/1000).
    from .volume import FIXTURE_META

    m = FIXTURE_META
    row = [
        (
            m.dim_z,
            m.dim_y,
            m.dim_x,
            m.spacing_z,
            m.spacing_y,
            m.spacing_x,
        )
    ]
    df = spark.createDataFrame(
        row,
        "dim_z int, dim_y int, dim_x int, spacing_z double, spacing_y double, spacing_x double",
    )
    return df.select(
        "dim_z",
        "dim_y",
        "dim_x",
        "spacing_z",
        (F.col("dim_z") * F.col("spacing_z") / 1000).alias("size_z_mm"),
        (F.col("dim_y") * F.col("spacing_y") / 1000).alias("size_y_mm"),
        (F.col("dim_x") * F.col("spacing_x") / 1000).alias("size_x_mm"),
    )


_register(
    "vox_meta_report",
    _vox_meta_report,
    """
SELECT CAST(16 AS INTEGER) AS dim_z, CAST(16 AS INTEGER) AS dim_y,
       CAST(16 AS INTEGER) AS dim_x, CAST(25.0 AS DOUBLE) AS spacing_z,
       16 * 25.0 / 1000 AS size_z_mm,
       16 * 25.0 / 1000 AS size_y_mm,
       16 * 25.0 / 1000 AS size_x_mm
""",
)


def _approx_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Approximate aggregates (HLL distinct, approximate quantiles) —
    # sketch outputs are engine-specific, so raw values can't hash-match
    # an oracle.  Property encoding instead: emit the EXACT distinct
    # count (oracle-checked value) plus deterministic within-tolerance
    # booleans comparing each sketch to its exact twin computed in the
    # same query.  Both Spark sketches are deterministic for a fixed
    # input, so the booleans are stable: HLL++ rsd defaults to 0.05
    # (checked at 3σ = 15%); percentile_approx rank error at the default
    # accuracy is ~n/10000 rows (checked at 1% of the exact value).
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("p50a"),
        F.percentile_approx("l_extendedprice", 0.99).alias("p99a"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50e"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99e"),
    )
    return agg.select(
        "exact_parts",
        (
            F.abs(F.col("ap") - F.col("exact_parts")) / F.col("exact_parts") <= 0.15
        ).alias("parts_within_15pct"),
        (F.abs(F.col("p50a") - F.col("p50e")) / F.col("p50e") <= 0.01).alias(
            "p50_within_1pct"
        ),
        (F.abs(F.col("p99a") - F.col("p99e")) / F.col("p99e") <= 0.01).alias(
            "p99_within_1pct"
        ),
    )


_register(
    "approx_agg",
    _approx_agg,
    """
SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS parts_within_15pct,
       TRUE AS p50_within_1pct,
       TRUE AS p99_within_1pct
FROM lineitem
""",
)


def _window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Window frame coverage: RANGE frame (peer rows aggregate together),
    # ntile, percent_rank — deterministic under a total order.
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    wr = Window.partitionBy("o_custkey").orderBy("o_orderdate").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.count("*").over(wr).alias("orders_to_date"),
        F.ntile(4).over(wo).alias("quartile"),
        F.percent_rank().over(wo).alias("prank"),
    )


_register(
    "window_frames",
    _window_frames,
    """
SELECT o_orderkey, o_custkey,
       count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS orders_to_date,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS prank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)


def _salted_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Skew-handling surface: the salted join must be result-identical to
    # the plain join — the oracle is the plain SQL join.
    from .operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return salted_join(li, part, "l_partkey", "p_partkey", salt=4).select(
        "l_orderkey", "l_partkey", "p_brand", "l_quantity"
    )


_register(
    "salted_join",
    _salted_join_q,
    """
SELECT l_orderkey, l_partkey, p_brand, l_quantity
FROM lineitem JOIN part ON l_partkey = p_partkey
""",
)


def _range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interval join with NO equi-key: purchases landing inside the
    # 30-minute window after any error event (operators/range_join.py
    # bucketization; oracle is the plain BETWEEN join).
    from .operators.range_join import interval_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.unix_micros("ts").alias("t_us")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + 30 * 60 * 1_000_000).alias("e_us"),
    )
    return interval_join_bucketed(
        purchases, errors, "t_us", "s_us", "e_us", bucket_width=30 * 60 * 1_000_000
    ).select("p_id", "e_id", "t_us")


_register(
    "range_join_events",
    _range_join_events,
    """
WITH p AS (
  SELECT event_id AS p_id, epoch_us(ts) AS t_us FROM events WHERE event_type = 'purchase'
),
i AS (
  SELECT event_id AS e_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + 30*60*1000000 AS e_us
  FROM events WHERE event_type = 'error'
)
SELECT p_id, e_id, t_us FROM p JOIN i ON t_us >= s_us AND t_us < e_us
""",
)


def _vox_erode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return O.morphology(synthetic_voxels(spark), op="erode", wrap=False)


_MORPH_SQL = """
WITH {vox},
nb AS (
  SELECT z, y, x, label,
         coalesce(lag(label)  OVER (PARTITION BY z, y ORDER BY x), label) AS xp,
         coalesce(lead(label) OVER (PARTITION BY z, y ORDER BY x), label) AS xn,
         coalesce(lag(label)  OVER (PARTITION BY z, x ORDER BY y), label) AS yp,
         coalesce(lead(label) OVER (PARTITION BY z, x ORDER BY y), label) AS yn,
         coalesce(lag(label)  OVER (PARTITION BY y, x ORDER BY z), label) AS zp,
         coalesce(lead(label) OVER (PARTITION BY y, x ORDER BY z), label) AS zn
  FROM voxels
)
SELECT z, y, x, {agg}(label, xp, xn, yp, yn, zp, zn) AS label
FROM nb
"""

_register(
    "vox_erode",
    _vox_erode,
    _MORPH_SQL.format(vox=VOX_CTE.strip(), agg="least"),
)


def _vox_dilate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return O.morphology(synthetic_voxels(spark), op="dilate", wrap=False)


_register(
    "vox_dilate",
    _vox_dilate,
    _MORPH_SQL.format(vox=VOX_CTE.strip(), agg="greatest"),
)


def _region_volume_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q6 hierarchy × aggregation: per-region voxel counts rolled up to
    # each region's parent (the ontology-level histogram the reference
    # shows as README figures).
    vox = synthetic_voxels(spark)
    regions = R.synthetic_regions(spark)
    hist = vox.groupBy("label").agg(F.count("*").alias("n_voxels"))
    joined = hist.join(
        F.broadcast(regions), hist.label == regions.region, "inner"
    )
    return joined.groupBy("parent").agg(
        F.sum("n_voxels").alias("n_voxels"),
        F.count("*").alias("n_regions"),
    )


_register(
    "region_volume_rollup",
    _region_volume_rollup,
    f"""
WITH {VOX_CTE}, {REGIONS_CTE},
hist AS (SELECT label, count(*) AS n_voxels FROM voxels GROUP BY label)
SELECT r.parent, CAST(sum(h.n_voxels) AS BIGINT) AS n_voxels, count(*) AS n_regions
FROM hist h JOIN regions r ON h.label = r.region
GROUP BY r.parent
""",
)


def _scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Correlated/scalar subquery handling (Catalyst rewrites it to a
    # join — SURVEY §4.1 "free" features made visible).
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders_sq
        WHERE o_totalprice > 1.5 * (
          SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
          FROM orders_sq
        )
        """
    )


_register(
    "scalar_subquery",
    _scalar_subquery,
    """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.5 * (
  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
  FROM orders
)
""",
)


def _unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Unpivot/melt: wide measure columns to (metric, value) rows.
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


_register(
    "unpivot_lineitem",
    _unpivot_lineitem,
    """
SELECT l_orderkey, l_linenumber, metric, value
FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
)
""",
)


def _vox_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Iterative connected-component labeling (min-label propagation to a
    # fixpoint). The oracle replays the same fixpoint with a recursive
    # CTE: enumerate every (voxel, reachable-start) pair along
    # same-label 6-neighbor paths, then take the min start per voxel.
    from .operators.components import connected_components

    return connected_components(synthetic_voxels(spark), (16, 16, 16))


_register(
    "vox_components",
    _vox_components,
    f"""
WITH RECURSIVE {VOX_CTE},
prop AS (
  SELECT z, y, x, label, z * 256 + y * 16 + x AS comp FROM voxels
  UNION
  SELECT v.z, v.y, v.x, v.label, p.comp
  FROM prop p
  JOIN voxels v ON v.label = p.label AND (
       (abs(v.z - p.z) = 1 AND v.y = p.y AND v.x = p.x)
    OR (v.z = p.z AND abs(v.y - p.y) = 1 AND v.x = p.x)
    OR (v.z = p.z AND v.y = p.y AND abs(v.x - p.x) = 1)
  )
)
SELECT z, y, x, label, min(comp) AS comp
FROM prop GROUP BY z, y, x, label
""",
)


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Near-dup families: exact-Jaccard pairs clustered transitively via
    # distributed connected components; keeper = min doc of the family.
    # Oracle replays the fixpoint with a recursive CTE over the pair graph.
    from .extensions.dedup import near_dup_clusters, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    return near_dup_clusters(docs, pairs)


_register(
    "dedup_clusters",
    _dedup_clusters,
    """
WITH RECURSIVE sh AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         unnest(range(len(string_split(text, ' ')) - 2)) AS i
  FROM documents
),
g AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS gram FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
  WHERE inter / (s1.n + s2.n - inter) >= 0.5
),
und AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
prop AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT u.a AS id, p.comp
  FROM prop p JOIN und u ON u.b = p.id
)
SELECT id AS doc_id, min(comp) AS cluster_id, min(comp) = id AS is_keeper
FROM prop GROUP BY id
""",
)


def _vox_point_after_upscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The §7.2 rewrite: a point query on the x3-upscaled volume answered
    # from the source (orig[c div s]) — the oracle materializes the
    # whole upscale and filters, proving the shortcut is semantics-
    # preserving, not just fast.
    from .operators.upscale import point_lookup_upscaled

    return point_lookup_upscaled(synthetic_voxels(spark), 3, 13, 7, 5)


_register(
    "vox_point_after_upscale",
    _vox_point_after_upscale,
    f"""
WITH {VOX_CTE},
up AS (
  SELECT v.z * 3 + a.range AS z, v.y * 3 + b.range AS y, v.x * 3 + c.range AS x, v.label
  FROM voxels v, range(3) a, range(3) b, range(3) c
)
SELECT z, y, x, label FROM up WHERE z = 13 AND y = 7 AND x = 5
""",
)


def _embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # int8 embedding quantization, exploded to (vec_id, dim, qval) rows
    # so the result hash covers every element (arrays don't hash well).
    from .extensions.similarity import quantize_embeddings

    return quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


_register(
    "embed_quantize",
    _embed_quantize,
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale,
         unnest(range(len(embedding))) AS i
  FROM embeddings
)
SELECT vec_id, scale, CAST(i AS INTEGER) AS dim,
       CAST(CASE WHEN scale = 0 THEN 0 ELSE greatest(floor(e[i + 1] / scale), -127) END AS INTEGER) AS qval
FROM v
""",
)


def _date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interval arithmetic: ship latency in days, bucketed — integer
    # datediff is portable where timestamp subtraction formats are not.
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lag_days")
    )
    return j.groupBy(F.floor(F.col("lag_days") / 30.0).cast("int").alias("lag_months")).agg(
        F.count("*").alias("n"),
        F.min("lag_days").alias("min_days"),
        F.max("lag_days").alias("max_days"),
    )


_register(
    "date_arithmetic",
    _date_arithmetic,
    """
SELECT CAST(floor(datediff('day', o_orderdate, l_shipdate) / 30.0) AS INTEGER) AS lag_months,
       COUNT(*) AS n,
       CAST(MIN(datediff('day', o_orderdate, l_shipdate)) AS INTEGER) AS min_days,
       CAST(MAX(datediff('day', o_orderdate, l_shipdate)) AS INTEGER) AS max_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""",
)


def _bigram_coherence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.text import bigram_coherence

    return bigram_coherence(load_table(spark, sf_dir, "documents"))


_register(
    "bigram_coherence",
    _bigram_coherence_q,
    """
WITH b AS (
  SELECT doc_id, w[i+1] || ' ' || w[i+2] AS bigram
  FROM (SELECT doc_id, string_split(text, ' ') AS w,
               unnest(range(len(string_split(text, ' ')) - 1)) AS i
        FROM documents)
),
cc AS (SELECT bigram, count(*) AS cnt FROM b GROUP BY bigram)
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(cnt) AS BIGINT) AS sum_cnt,
       sum(cnt) / count(*) AS coherence
FROM b JOIN cc USING (bigram)
GROUP BY doc_id
""",
)


def _rare_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.text import rare_terms

    return rare_terms(load_table(spark, sf_dir, "documents"), k=3)


_register(
    "rare_terms",
    _rare_terms_q,
    """
WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
d AS (SELECT tok, count(*) AS df FROM t GROUP BY tok),
r AS (
  SELECT t.doc_id, t.tok, d.df,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df ASC, t.tok ASC) AS rk
  FROM t JOIN d USING (tok)
)
SELECT doc_id, tok, df, CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 3
""",
)


def _vox_relabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ontology collapse: every fixture voxel label mapped to its parent
    # region (Q6's hierarchy driving a volume-wide rewrite).
    from .operators.relational import synthetic_regions
    from .operators.upscale import relabel_voxels

    regions = synthetic_regions(spark)
    mapping = regions.filter(F.col("level") == 1).select(
        F.col("region").alias("label"), F.col("parent").alias("new_label")
    )
    return relabel_voxels(synthetic_voxels(spark), mapping)


_register(
    "vox_relabel",
    _vox_relabel,
    f"""
WITH {VOX_CTE}, {REGIONS_CTE}
SELECT v.z, v.y, v.x, coalesce(r.parent, v.label) AS label
FROM voxels v LEFT JOIN (SELECT region, parent FROM regions WHERE level = 1) r
  ON v.label = r.region
""",
)


def _vox_histogram_preserved(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's README verification figures: label histograms of
    # source vs upscale agree exactly (up-count = s³ · source-count).
    from .operators.upscale import upscale_coo

    vox = synthetic_voxels(spark)
    h0 = vox.groupBy("label").agg(F.count("*").alias("n_orig"))
    h1 = upscale_coo(vox, 2).groupBy("label").agg(F.count("*").alias("n_up"))
    return h0.join(h1, "label", "full_outer").select(
        "label",
        "n_orig",
        "n_up",
        (F.col("n_up") == F.col("n_orig") * 8).alias("preserved"),
    )


_register(
    "vox_histogram_preserved",
    _vox_histogram_preserved,
    f"""
WITH {VOX_CTE},
h0 AS (SELECT label, count(*) AS n_orig FROM voxels GROUP BY label),
up AS (
  SELECT v.label
  FROM voxels v, range(2) a, range(2) b, range(2) c
),
h1 AS (SELECT label, count(*) AS n_up FROM up GROUP BY label)
SELECT label, n_orig, n_up, n_up = n_orig * 8 AS preserved
FROM h0 FULL OUTER JOIN h1 USING (label)
""",
)


def _vox_downsample_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Majority-vote downsample at stride 3: blocks straddle the fixture's
    # 4³ regions, so real vote counting (not unanimity) decides labels.
    from .operators.pyramid import downsample_mode

    return downsample_mode(synthetic_voxels(spark), 3)


_register(
    "vox_downsample_mode",
    _vox_downsample_mode,
    f"""
WITH {VOX_CTE},
counts AS (
  SELECT z // 3 AS z, y // 3 AS y, x // 3 AS x, label, count(*) AS n
  FROM voxels GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT z, y, x, label,
         row_number() OVER (PARTITION BY z, y, x ORDER BY n DESC, label ASC) AS rk
  FROM counts
)
SELECT z, y, x, label FROM ranked WHERE rk = 1
""",
    # majority-vote downsample: block-count agg + argmax window,
    # both keyed on the block — two exchanges, no more
    audit={"max_shuffles": 2, "codegen": True},
)


def _vox_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.outline import region_adjacency

    return region_adjacency(synthetic_voxels(spark))


_register(
    "vox_adjacency",
    _vox_adjacency,
    f"""
WITH {VOX_CTE},
shifted AS (
  SELECT a.label AS la, b.label AS lb
  FROM voxels a JOIN voxels b ON b.z = a.z + 1 AND b.y = a.y AND b.x = a.x
  UNION ALL
  SELECT a.label, b.label
  FROM voxels a JOIN voxels b ON b.z = a.z AND b.y = a.y + 1 AND b.x = a.x
  UNION ALL
  SELECT a.label, b.label
  FROM voxels a JOIN voxels b ON b.z = a.z AND b.y = a.y AND b.x = a.x + 1
)
SELECT DISTINCT least(la, lb) AS label_a, greatest(la, lb) AS label_b
FROM shifted WHERE la != lb
""",
)


def _vox_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-region bounding boxes + fill fraction: the standard atlas QA
    # report (a region whose bbox volume >> voxel count is fragmented).
    v = synthetic_voxels(spark)
    return v.groupBy("label").agg(
        F.min("z").alias("z_min"), F.max("z").alias("z_max"),
        F.min("y").alias("y_min"), F.max("y").alias("y_max"),
        F.min("x").alias("x_min"), F.max("x").alias("x_max"),
        F.count("*").alias("n_voxels"),
    )


_register(
    "vox_bbox",
    _vox_bbox,
    f"""
WITH {VOX_CTE}
SELECT label,
       min(z) AS z_min, max(z) AS z_max,
       min(y) AS y_min, max(y) AS y_max,
       min(x) AS x_min, max(x) AS x_max,
       count(*) AS n_voxels
FROM voxels GROUP BY label
""",
)


def _lateral_topk_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LATERAL correlated subquery with per-row ORDER BY + LIMIT — the
    # "top-N related rows per driving row" shape; Catalyst rewrites it
    # to a ranked window join rather than re-executing per row.
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_cust_lat")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_orders_lat")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM _cust_lat c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM _orders_lat o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        """
    )


_register(
    "lateral_topk_per_cust",
    _lateral_topk_per_cust,
    """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
""",
)


def _string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # String-function parity battery: integer-valued or exactly-string
    # functions only (no locale/collation-dependent ops).
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.levenshtein(F.col("c_name"), F.col("c_mktsegment")).alias("lev"),
        F.expr("left(c_name, 5)").alias("l5"),
        F.expr("right(c_name, 4)").alias("r4"),
        F.expr("replace(c_name, '#', '-')").alias("repl"),
        F.reverse(F.col("c_mktsegment")).alias("rev"),
        F.repeat(F.col("c_mktsegment"), 2).alias("rep2"),
        F.lpad(F.col("c_mktsegment"), 12, ".").alias("lp"),
        F.rpad(F.col("c_mktsegment"), 12, ".").alias("rp"),
        F.instr(F.col("c_name"), "0").alias("pos0"),
        F.md5(F.col("c_name")).alias("name_md5"),
        F.ascii(F.col("c_mktsegment")).alias("a0"),
        F.expr("split_part(c_name, '#', 1)").alias("sp1"),
        F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias("tr"),
    )


_register(
    "string_functions",
    _string_functions,
    """
SELECT c_custkey,
       CAST(levenshtein(c_name, c_mktsegment) AS INTEGER) AS lev,
       left(c_name, 5) AS l5,
       right(c_name, 4) AS r4,
       replace(c_name, '#', '-') AS repl,
       reverse(c_mktsegment) AS rev,
       repeat(c_mktsegment, 2) AS rep2,
       lpad(c_mktsegment, 12, '.') AS lp,
       rpad(c_mktsegment, 12, '.') AS rp,
       CAST(strpos(c_name, '0') AS INTEGER) AS pos0,
       md5(c_name) AS name_md5,
       CAST(ascii(c_mktsegment) AS INTEGER) AS a0,
       split_part(c_name, '#', 1) AS sp1,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr
FROM customer
""",
)


def _array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array-function parity battery over tokenized documents; arrays are
    # sorted before any order-sensitive access so both engines agree,
    # and outputs are scalars (array hashing is representation-fragile).
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_sort(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        F.size(toks).alias("n"),
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(toks, -1).alias("last_tok"),
        F.array_contains(toks, "the").alias("has_the"),
        F.array_position(toks, "the").cast("int").alias("pos_the"),
        F.concat_ws("|", F.slice(toks, 1, 3)).alias("first3"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )


_register(
    "array_functions",
    _array_functions,
    """
WITH t AS (SELECT doc_id, list_sort(string_split(text, ' ')) AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n,
       toks[1] AS first_tok,
       toks[-1] AS last_tok,
       list_contains(toks, 'the') AS has_the,
       CAST(coalesce(list_position(toks, 'the'), 0) AS INTEGER) AS pos_the,
       array_to_string(toks[1:3], '|') AS first3,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct
FROM t
""",
)


def _null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-handling parity: nullif/coalesce/null-safe equality, and
    # their interaction with comparison operators.
    c = load_table(spark, sf_dir, "customer")
    seg_or_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        seg_or_null.alias("seg_nullable"),
        F.coalesce(seg_or_null, F.lit("<none>")).alias("seg_coalesced"),
        seg_or_null.eqNullSafe(F.lit("MACHINERY")).alias("is_mach_nullsafe"),
        (seg_or_null == "MACHINERY").alias("is_mach_threeval"),
        F.isnull(seg_or_null).alias("was_building"),
    )


_register(
    "null_semantics",
    _null_semantics,
    """
SELECT c_custkey,
       nullif(c_mktsegment, 'BUILDING') AS seg_nullable,
       coalesce(nullif(c_mktsegment, 'BUILDING'), '<none>') AS seg_coalesced,
       nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM 'MACHINERY' AS is_mach_nullsafe,
       nullif(c_mktsegment, 'BUILDING') = 'MACHINERY' AS is_mach_threeval,
       nullif(c_mktsegment, 'BUILDING') IS NULL AS was_building
FROM customer
""",
)


def _embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-point per-label centroids: power-of-2 scaling makes the
    # distributed mean exactly reproducible (see label_centroids doc).
    from .extensions.similarity import label_centroids

    return label_centroids(load_table(spark, sf_dir, "embeddings"))


_register(
    "embed_centroids",
    _embed_centroids,
    """
WITH e AS (SELECT label, unnest(range(len(embedding))) AS dim, embedding::DOUBLE[] AS emb
           FROM embeddings)
SELECT label, CAST(dim AS INTEGER) AS dim,
       SUM(CAST(floor(emb[dim+1] * 1048576) AS BIGINT)) / (COUNT(*) * 1048576.0) AS centroid,
       COUNT(*) AS n
FROM e GROUP BY 1, 2
""",
    # fixed-point centroids: one explode + one (label,dim) agg
    audit={"max_shuffles": 2, "codegen": True, "no_python_udf": True},
)


def _frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multimodal frame-sampling plan: documents stand in as videos with
    # n_frames derived deterministically from n_chars; every 7th frame.
    # Pure metadata arithmetic — fully oracle-checkable (the decode
    # kernel itself is binary/stubbed and covered rows-only).
    from .extensions.multimodal import media_from_documents, sample_frame_indices

    media = media_from_documents(load_table(spark, sf_dir, "documents")).withColumn(
        "media_type", F.lit("video")
    ).withColumn(
        "meta",
        F.col("meta").withField(
            "n_frames", (F.octet_length("payload") % 100 + 1).cast("int")
        ),
    )
    return sample_frame_indices(media, every_n=7)


_register(
    "frame_sample_plan",
    _frame_sample_plan,
    """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) % 100 + 1 AS INTEGER) AS n_frames
  FROM documents
)
SELECT media_id, CAST(unnest(range(0, n_frames, 7)) AS INTEGER) AS frame_idx
FROM m
""",
)


def _doc_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.pipeline import doc_pipeline

    return doc_pipeline(load_table(spark, sf_dir, "documents"))


from .extensions.text import STOPWORDS as _PIPE_STOPWORDS

_PIPE_STOPLIST = "[" + ", ".join(f"'{w}'" for w in _PIPE_STOPWORDS) + "]"

_register(
    "doc_pipeline",
    _doc_pipeline_q,
    f"""
WITH s AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         len(list_filter(string_split(text, ' '), x -> list_contains({_PIPE_STOPLIST}, x))) AS n_stop,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['der','die','das','und','ist'], x))) AS INTEGER) AS hits_de,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to'], x))) AS INTEGER) AS hits_en,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['el','la','de','y','es'], x))) AS INTEGER) AS hits_es,
         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['le','la','et','est','de'], x))) AS INTEGER) AS hits_fr,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
  FROM documents
),
fp AS (
  SELECT doc_id,
         CAST(sum((length(w[i+1]) * (i + 1) + i) % 2147483647) % 2147483647 AS BIGINT) AS fingerprint
  FROM (SELECT doc_id, string_split(text, ' ') AS w,
               unnest(range(len(string_split(text, ' ')))) AS i
        FROM documents)
  GROUP BY doc_id
),
e AS (
  SELECT s.doc_id, s.norm_text, s.n_tokens, s.n_bpe_tokens,
         CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
              WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
              WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
              WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
              ELSE 'fr' END AS lang_pred,
         ((CASE WHEN n_chars >= 64 AND n_chars <= 100000 THEN 1.0 ELSE 0.0 END)
          + (CASE WHEN n_stop / n_tokens >= 0.05 THEN 1.0 ELSE 0.0 END)
          + (CASE WHEN n_punct * 4 <= n_tokens THEN 1.0 ELSE 0.0 END)) / 3 AS quality,
         fp.fingerprint
  FROM s JOIN fp USING (doc_id)
)
SELECT e.*,
       min(doc_id) OVER (PARTITION BY norm_text) AS canonical_id,
       doc_id = min(doc_id) OVER (PARTITION BY norm_text) AS is_canonical
FROM e
""",
    # composed doc pipeline: narrow select + ONE window shuffle
    audit={"max_shuffles": 2, "codegen": True, "no_python_udf": True},
)


# ---------------------------------------------------------------------------
# multi-way join analytics (TPC-H-adapted) — exercises join ordering,
# broadcast selection, and partial aggregation across 3-6 tables.  The
# testdata schema lacks o_shippriority / l_commitdate, so Q3/Q10 use the
# columns that exist; semantics (join graph, filters, top-k) are intact.
# ---------------------------------------------------------------------------


def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


def _tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 3-way join: the two big tables shuffle on their join keys; the
    # aggregate is partial (map-side) before the top-k, which Spark
    # executes as TakeOrderedAndProject — no full sort at scale.
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-03-15"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("odate_us"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_register(
    "tpch_q3_shipping",
    _tpch_q3_shipping,
    """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       epoch_us(o_orderdate) AS odate_us,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
     JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
    # 3-way join + top-k: two big-side exchanges + one agg exchange;
    # top-k must be TakeOrderedAndProject, never a global sort
    audit={"max_shuffles": 3, "pushdown": True, "codegen": True},
)


def _tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 6-way join; region/nation are broadcast (tiny dims), the
    # customer=supplier nation equality is an extra non-FK predicate that
    # exercises join reordering.
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


_register(
    "tpch_q5_local_supplier",
    _tpch_q5_local_supplier,
    """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
)


def _tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Returned-item reporting: 4-way join, per-customer revenue, top-20.
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_register(
    "tpch_q10_returns",
    _tpch_q10_returns,
    """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer JOIN orders ON c_custkey = o_custkey
     JOIN lineitem ON l_orderkey = o_orderkey
     JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
)


def _tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q4 adapted (no l_commitdate/l_receiptdate in testdata): orders in
    # a quarter having at least one late-shipped line (EXISTS semi-join).
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
    return (
        orders.join(
            late.select("l_orderkey").distinct(),
            orders.o_orderkey == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_register(
    "tpch_q4_priority",
    _tpch_q4_priority,
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
)


def _tpch_q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q12 adapted (no l_shipmode/l_commitdate/l_receiptdate in testdata):
    # join orders<->lineitem in a ship-year, CASE-bucket order priorities
    # into high/low counts per line status — the same pivoted-count
    # shape as the original.
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_register(
    "tpch_q12_shipmode",
    _tpch_q12_shipmode,
    """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
""",
)


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The testdata ships no partsupp table; derive it faithfully from
    # lineitem's observed (part, supplier) pairs: supplycost = the
    # minimum DECIMAL-exact extended price, availqty = line count.
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("ps_supplycost"),
        F.count("*").alias("ps_availqty"),
    )


_PARTSUPP_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ps_supplycost,
         COUNT(*) AS ps_availqty
  FROM lineitem GROUP BY l_partkey, l_suppkey
"""


def _tpch_q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q2 adapted (partsupp derived): the minimum-cost supplier per part
    # within one region — the correlated-min archetype, expressed as an
    # aggregate-then-rejoin (Catalyst's own decorrelation shape).
    ps = _derived_partsupp(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 30)
    regional = (
        ps.join(supplier, ps.ps_suppkey == supplier.s_suppkey)
        .join(nation, F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
    )
    min_cost = regional.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("__min_cost")
    )
    return (
        regional.join(F.broadcast(part), F.col("ps_partkey") == part.p_partkey)
        .join(
            min_cost,
            (regional.ps_partkey == min_cost.ps_partkey)
            & (F.col("ps_supplycost") == F.col("__min_cost")),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            "ps_supplycost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(20)
    )


_register(
    "tpch_q2_min_cost",
    _tpch_q2_min_cost,
    f"""
WITH partsupp AS ({_PARTSUPP_SQL}),
regional AS (
  SELECT ps.*, s.s_acctbal, s.s_name, n.n_name
  FROM partsupp ps
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
)
SELECT rg.s_acctbal, rg.s_name, rg.n_name, p.p_partkey, p.p_brand,
       rg.ps_supplycost
FROM regional rg
JOIN part p ON rg.ps_partkey = p.p_partkey
WHERE p.p_size >= 30
  AND rg.ps_supplycost = (SELECT MIN(r2.ps_supplycost) FROM regional r2
                          WHERE r2.ps_partkey = rg.ps_partkey)
ORDER BY rg.s_acctbal DESC, rg.n_name, rg.s_name, p.p_partkey
LIMIT 20
""",
)


def _tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q11 adapted (partsupp derived): per-part stock value within one
    # nation, kept when above a fixed fraction of the national total —
    # the global-fraction HAVING archetype. The 1-row total broadcasts.
    ps = _derived_partsupp(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    val = F.sum(
        (F.col("ps_supplycost").cast("decimal(18,2)") * F.col("ps_availqty"))
    )
    national = (
        ps.join(supplier, ps.ps_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
    )
    per_part = national.groupBy("ps_partkey").agg(
        val.alias("__value_dec")
    )
    total = per_part.agg(
        F.sum("__value_dec").alias("__total_dec")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("__value_dec")
            > F.col("__total_dec") * F.lit(0.001).cast("decimal(10,6)")
        )
        .select(
            "ps_partkey", F.col("__value_dec").cast("double").alias("value")
        )
    )


_register(
    "tpch_q11_important_stock",
    _tpch_q11_important_stock,
    f"""
WITH partsupp AS ({_PARTSUPP_SQL}),
national AS (
  SELECT ps.* FROM partsupp ps
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_3'
),
per_part AS (
  SELECT ps_partkey,
         SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty) AS value_dec
  FROM national GROUP BY ps_partkey
)
SELECT ps_partkey, CAST(value_dec AS DOUBLE) AS value
FROM per_part
WHERE value_dec > (SELECT SUM(value_dec) FROM per_part) * CAST(0.001 AS DECIMAL(10,6))
""",
)


def _tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q6: pure filter + agg — the pushdown showcase (no join at all).
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


_register(
    "tpch_q6_forecast",
    _tpch_q6_forecast,
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    # Q6: filter+agg only — both predicates must reach the scan
    audit={"max_shuffles": 1, "pushdown": True, "codegen": True},
)


def _tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q7: nation-pair trade flows — supplier nation ≠ customer nation,
    # grouped by the pair and ship year.
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pairs = (("NATION_1", "NATION_2"), ("NATION_2", "NATION_1"))
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == pairs[0][0]) & (F.col("cust_nation") == pairs[0][1]))
            | ((F.col("supp_nation") == pairs[1][0]) & (F.col("cust_nation") == pairs[1][1]))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
        .cast("double")
        .alias("revenue")
    )


_register(
    "tpch_q7_volume_shipping",
    _tpch_q7_volume_shipping,
    """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN customer ON o_custkey = c_custkey
     JOIN supplier ON l_suppkey = s_suppkey
     JOIN nation n1 ON s_nationkey = n1.n_nationkey
     JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
""",
)


def _tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q13: distribution of customers by order count (left join keeps
    # zero-order customers, then a second aggregation over the first).
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_register(
    "tpch_q13_custdist",
    _tpch_q13_custdist,
    """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
GROUP BY c_count
""",
    # Q13: join + per-cust agg + distribution agg; the per-cust agg
    # must reuse the join's hash partitioning (no extra exchange)
    audit={"max_shuffles": 3, "codegen": True},
)


def _tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q14: conditional aggregation — promo revenue share as the ratio of
    # two exact DECIMAL sums (one double division at the end).
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    part = load_table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
            (
                F.sum(promo).cast("double") * 100 / F.sum(rev).cast("double")
            ).alias("promo_pct"),
        )
    )


_register(
    "tpch_q14_promo",
    _tpch_q14_promo,
    """
SELECT CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
       CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100
            / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
""",
)


def _tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q17: per-part average-quantity subquery — lines under 20% of their
    # part's mean quantity.  The threshold comparison stays in exact
    # arithmetic: 5·qty·cnt < sum_qty (both sides DECIMAL·BIGINT).
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    stats = li.groupBy(F.col("l_partkey").alias("sp")).agg(
        F.sum(_dec("l_quantity")).alias("sum_qty"), F.count("*").alias("cnt")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(stats, li.l_partkey == F.col("sp"))
        .filter(_dec("l_quantity") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / 7).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


_register(
    "tpch_q17_small_qty",
    _tpch_q17_small_qty,
    """
WITH stats AS (
  SELECT l_partkey AS sp, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty, COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7 AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
     JOIN stats ON l_partkey = sp
WHERE p_brand = 'Brand#23'
  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sum_qty
""",
)


def _tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q18: large-volume customers — HAVING on a grouped sum, then join
    # back for customer attributes, top-k.
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("odate_us"),
            "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


_register(
    "tpch_q18_large_orders",
    _tpch_q18_large_orders,
    """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
)
SELECT c_name, c_custkey, o_orderkey, epoch_us(o_orderdate) AS odate_us,
       o_totalprice, CAST(sum_qty AS DOUBLE) AS sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
     JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""",
)


def _percentile_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact interpolated percentiles (sort-based agg).  Both engines use
    # the same linear-interpolation rule on sorted values, so doubles
    # match bitwise (verified empirically, unlike SUM(double)).
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("median(l_quantity)").alias("q50"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
    )


_register(
    "percentile_quantity",
    _percentile_quantity,
    """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       median(l_quantity) AS q50,
       quantile_cont(l_quantity, 0.75) AS q75,
       quantile_cont(l_extendedprice, 0.9) AS p90_price
FROM lineitem GROUP BY l_returnflag
""",
)


def _orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Correlated scalar subqueries — Catalyst decorrelates both into a
    # single grouped join.  price*count > sum keeps the comparison in
    # exact DECIMAL arithmetic (an avg-of-doubles threshold would be
    # order-dependent at the boundary).
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_orders_corr")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM _orders_corr o
        WHERE CAST(o.o_totalprice AS DECIMAL(18,2))
              * (SELECT COUNT(*) FROM _orders_corr o2
                 WHERE o2.o_custkey = o.o_custkey)
              > (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,2)))
                 FROM _orders_corr o3 WHERE o3.o_custkey = o.o_custkey)
        """
    )


_register(
    "orders_above_cust_avg",
    _orders_above_cust_avg,
    """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o
WHERE CAST(o.o_totalprice AS DECIMAL(18,2))
      * (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      > (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,2)))
         FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
""",
)


def _revenue_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Calendar-field extraction + agg: the shape of a partition-pruned
    # rollup when orders is date-partitioned at scale.
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
    )


_register(
    "revenue_by_month",
    _revenue_by_month,
    """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mo,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY 1, 2
""",
)


def _text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.text import normalize_text

    return normalize_text(load_table(spark, sf_dir, "documents"))


_register(
    "text_normalize",
    _text_normalize,
    """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
FROM documents
""",
)

# ---------------------------------------------------------------------------
# TPC-H-adapted batch 3: Q8/Q9/Q15/Q16/Q19/Q20/Q21/Q22.  The testdata
# schema has no partsupp / l_commitdate / l_receiptdate / c_phone /
# p_container, so each query keeps its defining *shape* (market-share
# ratio, max-subquery, NOT IN exclusion, disjunctive predicates, nested
# IN, double-EXISTS anti-pattern, anti-join + avg threshold) on the
# columns that exist.
# ---------------------------------------------------------------------------


def _tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q8: national market share — share of AMERICA-region ECONOMY-part
    # revenue supplied by NATION_5, per order year.  Numerator and
    # denominator are exact DECIMAL sums (order-independent), divided
    # once at the end in double.
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    nation_c = load_table(spark, sf_dir, "nation").alias("nc")
    nation_s = load_table(spark, sf_dir, "nation").alias("ns")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    vol = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation_c), cust.c_nationkey == F.col("nc.n_nationkey"))
        .join(F.broadcast(region), F.col("nc.n_regionkey") == region.r_regionkey)
        .join(F.broadcast(nation_s), supp.s_nationkey == F.col("ns.n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("ns.n_name") == "NATION_5", vol).otherwise(
                        F.lit(0).cast("decimal(18,2)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share"),
            F.count("*").alias("n_lines"),
        )
    )


_register(
    "tpch_q8_market_share",
    _tpch_q8_market_share,
    """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CASE WHEN ns.n_name = 'NATION_5'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS mkt_share,
       COUNT(*) AS n_lines
FROM lineitem
     JOIN part ON l_partkey = p_partkey
     JOIN supplier ON l_suppkey = s_suppkey
     JOIN orders ON l_orderkey = o_orderkey
     JOIN customer ON o_custkey = c_custkey
     JOIN nation nc ON c_nationkey = nc.n_nationkey
     JOIN region ON nc.n_regionkey = r_regionkey
     JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
""",
)


def _tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q9: product-type profit by nation and year.  Without partsupp,
    # profit reduces to discounted revenue; the defining shape — LIKE
    # filter on p_name, 5-way join, (nation, year) grouping — is intact.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
            .cast("double")
            .alias("sum_profit")
        )
    )


_register(
    "tpch_q9_profit",
    _tpch_q9_profit,
    """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_profit
FROM lineitem
     JOIN part ON l_partkey = p_partkey
     JOIN supplier ON l_suppkey = s_suppkey
     JOIN orders ON l_orderkey = o_orderkey
     JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, 2
""",
)


def _tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q15: top supplier — revenue view over a quarter, then suppliers
    # whose revenue equals the global max (uncorrelated scalar subquery
    # over an aggregate).  Revenue stays DECIMAL end-to-end so the
    # equality against MAX is exact; only the projection casts to double.
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))).alias("total_rev")
    )
    rev.createOrReplaceTempView("_q15_revenue")
    supp = load_table(spark, sf_dir, "supplier")
    supp.createOrReplaceTempView("_q15_supplier")
    return spark.sql(
        """
        SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        FROM _q15_supplier JOIN _q15_revenue ON s_suppkey = supplier_no
        WHERE total_rev = (SELECT MAX(total_rev) FROM _q15_revenue)
        """
    )


_register(
    "tpch_q15_top_supplier",
    _tpch_q15_top_supplier,
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
""",
)


def _tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q16: supplier count by part attributes.  partsupp is approximated
    # by the observed (l_partkey, l_suppkey) pairs; the NOT IN exclusion
    # (complaint suppliers ~ negative account balance) and the
    # COUNT(DISTINCT) grouping are the query's defining features.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").isin("PROMO"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    pairs = (
        li.select(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .distinct()
        .join(bad, F.col("suppkey") == bad.s_suppkey, "left_anti")
    )
    return (
        pairs.join(part, F.col("partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("suppkey").alias("supplier_cnt"))
    )


_register(
    "tpch_q16_supplier_cnt",
    _tpch_q16_supplier_cnt,
    """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT suppkey) AS supplier_cnt
FROM (
  SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem
) pairs JOIN part ON partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type NOT IN ('PROMO')
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)


def _tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q19: discounted revenue under three OR'd brand/size/quantity
    # bundles — the classic disjunctive join predicate Catalyst must
    # push below the join as (cond1 OR cond2 OR cond3) on each side.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 5))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return j.filter(cond).agg(
        F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


_register(
    "tpch_q19_disjunctive",
    _tpch_q19_disjunctive,
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
""",
)


def _tpch_q20_nested_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q20: suppliers with excess stock of blue parts — nested IN
    # subqueries (suppkey IN (... partkey IN (...))), adapted to the
    # observed lineitem pairs with a shipped-quantity threshold.
    for name in ("supplier", "nation", "lineitem", "part"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"_q20_{name}")
    return spark.sql(
        """
        SELECT s_name, s_suppkey
        FROM _q20_supplier JOIN _q20_nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_3', 'NATION_7')
          AND s_suppkey IN (
            SELECT l_suppkey FROM _q20_lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM _q20_part WHERE p_name LIKE 'blue%')
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_suppkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50
          )
        """
    )


_register(
    "tpch_q20_nested_in",
    _tpch_q20_nested_in,
    """
SELECT s_name, s_suppkey
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_3', 'NATION_7')
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50
  )
""",
)


def _tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q21: suppliers who alone failed within multi-supplier orders.
    # l_receiptdate/l_commitdate don't exist, so "failed" is adapted to
    # l_returnflag = 'R'; the double-correlated EXISTS / NOT EXISTS
    # against the same fact table — the query's whole point — is kept.
    for name in ("supplier", "lineitem", "orders", "nation"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"_q21_{name}")
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM _q21_supplier
             JOIN _q21_lineitem l1 ON s_suppkey = l1.l_suppkey
             JOIN _q21_orders ON o_orderkey = l1.l_orderkey
             JOIN _q21_nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
          AND EXISTS (
            SELECT 1 FROM _q21_lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM _q21_lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R'
          )
        GROUP BY s_name
        """
    )


_register(
    "tpch_q21_waiting",
    _tpch_q21_waiting,
    """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
     JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
     JOIN orders ON o_orderkey = l1.l_orderkey
     JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
""",
)


def _tpch_q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q22: promising-but-inactive customers.  c_phone doesn't exist, so
    # the "country code" is two digits of the customer number
    # in c_name; the avg-threshold scalar subquery and NOT EXISTS
    # anti-join are kept ("inactive" = no pending orders; every testdata
    # customer has at least one order of some status).  The threshold comparison is exact:
    # acctbal * count > sum (DECIMAL · BIGINT vs DECIMAL).
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_q22_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_q22_orders")
    return spark.sql(
        """
        WITH pos AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total
          FROM _q22_customer
          WHERE c_acctbal > 0.0
            AND substring(c_name, 16, 2) IN ('01', '05', '09', '16', '17', '23', '25')
        )
        SELECT substring(c_name, 16, 2) AS cntrycode,
               COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM _q22_customer, pos
        WHERE substring(c_name, 16, 2) IN ('01', '05', '09', '16', '17', '23', '25')
          AND CAST(c_acctbal AS DECIMAL(18,2)) * pos.n > pos.total
          AND NOT EXISTS (
            SELECT 1 FROM _q22_orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
          )
        GROUP BY 1
        """
    )


_register(
    "tpch_q22_global_sales",
    _tpch_q22_global_sales,
    """
WITH pos AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total
  FROM customer
  WHERE c_acctbal > 0.0
    AND substring(c_name, 16, 2) IN ('01', '05', '09', '16', '17', '23', '25')
)
SELECT substring(c_name, 16, 2) AS cntrycode,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer, pos
WHERE substring(c_name, 16, 2) IN ('01', '05', '09', '16', '17', '23', '25')
  AND CAST(c_acctbal AS DECIMAL(18,2)) * pos.n > pos.total
  AND NOT EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
  )
GROUP BY 1
""",
)

# ---------------------------------------------------------------------------
# Training-set assembly: deterministic shuffle, token packing, repetition
# signals, benchmark contamination, time-series resample.  All integer /
# exactly-derived arithmetic — replayed bitwise by the oracle.
# ---------------------------------------------------------------------------


def _train_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.training import train_shuffle

    return train_shuffle(load_table(spark, sf_dir, "documents"), n_shards=8, seed=7)


_register(
    "train_shuffle",
    _train_shuffle_q,
    """
SELECT doc_id,
       (1103515245 * ((doc_id + 7) % 2147483648) + 12345) % 2147483648 AS shuffle_pos,
       CAST(((1103515245 * ((doc_id + 7) % 2147483648) + 12345) % 2147483648) % 8 AS INTEGER) AS shard
FROM documents
""",
    # deterministic LCG shuffle + repetition signals: pure narrow
    # projections — reshuffling/rescoring 100 TB must cost zero
    # exchanges
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.training import pack_sequences

    return pack_sequences(
        load_table(spark, sf_dir, "documents"), budget=256, n_shards=8, seed=7
    )


_register(
    "pack_sequences",
    _pack_sequences_q,
    """
WITH base AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         (1103515245 * ((doc_id + 7) % 2147483648) + 12345) % 2147483648 AS shuffle_pos,
         CAST(((1103515245 * ((doc_id + 7) % 2147483648) + 12345) % 2147483648) % 8 AS INTEGER) AS shard
  FROM documents
),
cum AS (
  SELECT doc_id, shard, shuffle_pos, CAST(n_tokens AS INTEGER) AS n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY shuffle_pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM base
)
SELECT doc_id, shard, shuffle_pos, n_tokens,
       CAST(c - n_tokens AS BIGINT) AS start_offset,
       CAST((c - n_tokens) // 256 AS BIGINT) AS pack_id
FROM cum
""",
    # token packing: the running sum is windowed per shard — exactly
    # one exchange, never a global sort
    audit={"max_shuffles": 1, "codegen": True, "no_python_udf": True},
)


def _assemble_packs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.training import assemble_packs

    return assemble_packs(
        load_table(spark, sf_dir, "documents"), budget=256, n_shards=8, seed=7
    )


_register(
    "assemble_packs",
    _assemble_packs_q,
    """
WITH base AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS n_tokens,
         (1103515245 * ((doc_id + 7) % 2147483648) + 12345) % 2147483648 AS shuffle_pos,
         CAST(((1103515245 * ((doc_id + 7) % 2147483648) + 12345) % 2147483648) % 8 AS INTEGER) AS shard
  FROM documents
),
packed AS (
  SELECT shard, shuffle_pos, n_tokens, text,
         CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY shuffle_pos
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens) // 256 AS BIGINT) AS pack_id
  FROM base
)
SELECT shard, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       string_agg(text, ' ' ORDER BY shuffle_pos) AS text
FROM packed
GROUP BY shard, pack_id
""",
    # pack assembly: per-shard offset window + per-pack aggregate —
    # two exchanges, in-aggregate sort_array instead of a global sort
    audit={"max_shuffles": 2, "codegen": True, "no_python_udf": True},
)


def _repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.training import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"))


_register(
    "repetition_stats",
    _repetition_stats_q,
    """
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
per AS (
  SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
)
SELECT doc_id,
       CAST(SUM(c) AS INTEGER) AS n_words,
       CAST(COUNT(*) AS INTEGER) AS n_distinct_words,
       CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_word_frac,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_word_frac
FROM per GROUP BY doc_id
""",
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


def _contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.training import contamination

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination(docs, bench, n=5)


_register(
    "contamination",
    _contamination_q,
    """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
  FROM words WHERE len(w) >= 5
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle FROM idx
),
bs AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
),
totals AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_contaminated
  FROM sh WHERE shingle IN (SELECT shingle FROM bs) GROUP BY doc_id
)
SELECT h.doc_id, h.n_contaminated, t.n_shingles,
       CAST(h.n_contaminated AS DOUBLE) / CAST(t.n_shingles AS DOUBLE) AS contamination_frac
FROM hits h JOIN totals t ON h.doc_id = t.doc_id
""",
    # contamination screen: shingle distinct, totals, semi-join,
    # per-doc agg — bounded exchange count
    audit={"max_shuffles": 2, "codegen": True, "no_python_udf": True},
)


def _prepare_training_set_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the flagship composition: quality gate -> exact dedup ->
    # benchmark decontamination -> train split -> shuffle/shard/pack,
    # one composed plan, every stage replayed exactly by the oracle.
    from .extensions.pipeline import prepare_training_set

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return prepare_training_set(docs, benchmark=bench, seed=7)


_MARGIN_SQL = """
  -0.4::DOUBLE + 0.0005::DOUBLE * length(text)
       + 0.004::DOUBLE * len(string_split(text, ' '))
       + (-0.06::DOUBLE) * len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
       + 0.09::DOUBLE * len(list_filter(string_split(text, ' '), x -> list_contains({stoplist}, x)))
       + 2.5::DOUBLE * (len(list_filter(string_split(text, ' '), x -> list_contains({stoplist}, x))) / len(string_split(text, ' ')))
       + (-0.08::DOUBLE) * (length(text) / len(string_split(text, ' ')))
"""


_register(
    "prepare_training_set",
    _prepare_training_set_q,
    f"""
WITH kept AS (
  SELECT doc_id, text, source FROM documents
  WHERE ({_MARGIN_SQL.format(stoplist=_STOPLIST_SQL)}) >= 0.0::DOUBLE
),
canon AS (
  SELECT doc_id, text, source FROM (
    SELECT doc_id, text, source, min(doc_id) OVER (PARTITION BY text) AS cid
    FROM kept
  ) WHERE doc_id = cid
),
cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM canon),
cidx AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
  FROM cw WHERE len(w) >= 5
),
csh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle FROM cidx),
bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 50 = 0),
bidx AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
  FROM bw WHERE len(w) >= 5
),
bsh AS (SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS shingle FROM bidx),
bad AS (SELECT DISTINCT doc_id FROM csh WHERE shingle IN (SELECT shingle FROM bsh)),
clean AS (
  SELECT * FROM canon WHERE doc_id NOT IN (SELECT doc_id FROM bad)
),
train AS (
  SELECT * FROM clean
  WHERE substr(md5(concat('split', ':', CAST(doc_id AS VARCHAR))), 1, 8) < 'cccccccc'
),
base AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tokens,
         (1103515245 * ((doc_id + 7) % 2147483648) + 12345) % 2147483648 AS shuffle_pos,
         CAST(((1103515245 * ((doc_id + 7) % 2147483648) + 12345) % 2147483648) % 8 AS INTEGER) AS shard
  FROM train
),
cum AS (
  SELECT doc_id, source, shard, shuffle_pos, CAST(n_tokens AS INTEGER) AS n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY shuffle_pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM base
)
SELECT doc_id, source, shard, shuffle_pos, n_tokens,
       CAST(c - n_tokens AS BIGINT) AS start_offset,
       CAST((c - n_tokens) // 256 AS BIGINT) AS pack_id
FROM cum
""",
    # full training-set assembly: dedup window + decontamination
    # joins + pack window — bounded, and NEVER a global sort
    audit={"max_shuffles": 5, "codegen": True, "no_python_udf": True},
)


def _funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # view -> signup -> purchase per user; timestamps project as epoch
    # micros (suite timestamp convention)
    from .operators.funnel import funnel

    out = funnel(
        load_table(spark, sf_dir, "events"), ["view", "signup", "purchase"]
    )
    return out.select(
        "user_id",
        F.unix_micros("ts_1").alias("us_1"),
        F.unix_micros("ts_2").alias("us_2"),
        F.unix_micros("ts_3").alias("us_3"),
        "depth",
    )


_register(
    "funnel_steps",
    _funnel_q,
    """
WITH s1 AS (
  SELECT user_id, min(ts) AS ts_1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS ts_2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'signup' AND e.ts > s1.ts_1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS ts_3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.ts_2
  GROUP BY e.user_id
)
SELECT s1.user_id,
       CAST(epoch_us(s1.ts_1) AS BIGINT) AS us_1,
       CAST(epoch_us(s2.ts_2) AS BIGINT) AS us_2,
       CAST(epoch_us(s3.ts_3) AS BIGINT) AS us_3,
       CAST(CASE WHEN s3.ts_3 IS NOT NULL THEN 3
                 WHEN s2.ts_2 IS NOT NULL THEN 2
                 ELSE 1 END AS INTEGER) AS depth
FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
""",
)


def _funnel_within_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the same funnel under a 24 h conversion window anchored at each
    # user's FIRST 'view' — the product-analytics windowed-conversion
    # metric (depth drops where the chain overruns the window)
    from .operators.funnel import funnel

    out = funnel(
        load_table(spark, sf_dir, "events"),
        ["view", "signup", "purchase"],
        within_us=24 * 3600 * 1_000_000,
    )
    return out.select(
        "user_id",
        F.unix_micros("ts_1").alias("us_1"),
        F.unix_micros("ts_2").alias("us_2"),
        F.unix_micros("ts_3").alias("us_3"),
        "depth",
    )


_register(
    "funnel_within",
    _funnel_within_q,
    """
WITH s1 AS (
  SELECT user_id, min(ts) AS ts_1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS ts_2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'signup' AND e.ts > s1.ts_1
    AND epoch_us(e.ts) <= epoch_us(s1.ts_1) + 86400000000
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS ts_3
  FROM events e
  JOIN s2 ON e.user_id = s2.user_id
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.ts_2
    AND epoch_us(e.ts) <= epoch_us(s1.ts_1) + 86400000000
  GROUP BY e.user_id
)
SELECT s1.user_id,
       CAST(epoch_us(s1.ts_1) AS BIGINT) AS us_1,
       CAST(epoch_us(s2.ts_2) AS BIGINT) AS us_2,
       CAST(epoch_us(s3.ts_3) AS BIGINT) AS us_3,
       CAST(CASE WHEN s3.ts_3 IS NOT NULL THEN 3
                 WHEN s2.ts_2 IS NOT NULL THEN 2
                 ELSE 1 END AS INTEGER) AS depth
FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
""",
)


def _funnel_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.funnel import funnel_counts

    return funnel_counts(
        load_table(spark, sf_dir, "events"), ["view", "signup", "purchase"]
    )


_register(
    "funnel_counts",
    _funnel_counts_q,
    """
WITH s1 AS (
  SELECT user_id, min(ts) AS ts_1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS ts_2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'signup' AND e.ts > s1.ts_1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS ts_3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.ts_2
  GROUP BY e.user_id
)
SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name, CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
UNION ALL
SELECT CAST(2 AS INTEGER), 'signup', CAST((SELECT count(*) FROM s2) AS BIGINT)
UNION ALL
SELECT CAST(3 AS INTEGER), 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
""",
)


def _cohort_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.funnel import cohort_retention

    out = cohort_retention(load_table(spark, sf_dir, "events"), period="week")
    return out.select(
        F.unix_micros("cohort").alias("cohort_us"), "periods_since", "n_users"
    )


_register(
    "cohort_retention",
    _cohort_retention_q,
    """
WITH first AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS p FROM events
)
SELECT CAST(epoch_us(f.cohort) AS BIGINT) AS cohort_us,
       CAST(date_diff('day', CAST(f.cohort AS DATE), CAST(a.p AS DATE)) // 7 AS INTEGER) AS periods_since,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM active a JOIN first f ON a.user_id = f.user_id
GROUP BY f.cohort, periods_since
""",
)


def _resample_ffill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.resample import resample_ffill

    ev = load_table(spark, sf_dir, "events")
    out = resample_ffill(ev, step="1 hour")
    return out.select(
        "user_id", F.unix_micros("grid_ts").alias("grid_us"), "value"
    )


_register(
    "resample_ffill",
    _resample_ffill_q,
    """
WITH bounds AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS lo, MAX(ts) AS hi
  FROM events GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts
  FROM bounds
),
unioned AS (
  SELECT user_id, ts, CAST(value AS DOUBLE) AS v,
         CAST(event_id AS BIGINT) AS tb, 0 AS is_grid
  FROM events
  UNION ALL
  SELECT user_id, ts, NULL, NULL, 1 FROM grid
),
filled AS (
  SELECT user_id, ts, is_grid,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts, is_grid, COALESCE(tb, -1)
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
  FROM unioned
)
SELECT user_id, epoch_us(ts) AS grid_us, f AS value
FROM filled WHERE is_grid = 1
""",
    # per-key grid + forward fill: bounds agg + one per-key window
    audit={"max_shuffles": 3, "codegen": True, "no_python_udf": True},
)


# ---------------------------------------------------------------------------
# Corpus governance: changelog apply (CDC), deterministic splits, stratified
# sampling, PII redaction, corpus line-dedup, Z-order clustering.  All
# integer / string / carried-value arithmetic — replayed bitwise by the
# oracle.
# ---------------------------------------------------------------------------


def _changelog_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.merge import apply_changelog

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    changes = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 19 == 0, "delete")
        .otherwise("upsert")
        .alias("op"),
        F.concat(F.lit("upd-"), F.col("o_orderkey").cast("string")).alias("c_name"),
        F.col("o_totalprice").alias("c_acctbal"),
    )
    return apply_changelog(cust, changes, "c_custkey")


_register(
    "changelog_apply",
    _changelog_apply_q,
    """
WITH unioned AS (
  SELECT c_custkey, CAST(-1 AS BIGINT) AS seq, 'upsert' AS op, c_name, c_acctbal
  FROM customer
  UNION ALL
  SELECT o_custkey, o_orderkey,
         CASE WHEN o_orderkey % 19 = 0 THEN 'delete' ELSE 'upsert' END,
         'upd-' || o_orderkey, o_totalprice
  FROM orders
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rk
  FROM unioned
)
SELECT c_custkey, c_name, c_acctbal FROM ranked WHERE rk = 1 AND op <> 'delete'
""",
)


def _scd2_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Type-2 SCD history of each user's event_type: consecutive equal
    # types collapse into one validity interval; one exchange total
    # (lag window, island groupBy, and lead window all cluster on
    # user_id).  Epoch-micros bounds keep the compare engine-exact.
    from .operators.merge import scd2_build

    ev = load_table(spark, sf_dir, "events")
    return scd2_build(
        ev, "user_id", ["event_type"], ts_col="ts", tiebreak_cols=["event_id"]
    )


_register(
    "scd2_user_segments",
    _scd2_user_segments,
    """
WITH l AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER w AS rn,
         lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
f AS (
  SELECT *, CASE WHEN rn > 1 AND prev IS NOT DISTINCT FROM event_type
                 THEN 0 ELSE 1 END AS chg
  FROM l
),
g AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM f
),
i AS (
  SELECT user_id, island, event_type, min(ts) AS vf
  FROM g GROUP BY 1, 2, 3
)
SELECT user_id, event_type,
       epoch_us(vf) AS valid_from_us,
       epoch_us(lead(vf) OVER wl) AS valid_to_us,
       lead(vf) OVER wl IS NULL AS is_current,
       CAST(island AS INT) AS version
FROM i
WINDOW wl AS (PARTITION BY user_id ORDER BY island)
""",
    # SCD2 history build: lag window, island groupBy, and lead
    # window ALL cluster on the key — Spark reuses the one hash
    # exchange (subset-key clustering) for all three
    audit={"max_shuffles": 1, "codegen": True, "no_python_udf": True},
)


def _scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The read side of SCD2: look up each fact's dimension state AS OF
    # its (shifted) event time — composed as scd2_build → backward
    # as-of join; the oracle replays it with DuckDB's native ASOF JOIN,
    # a genuinely independent implementation of the semantics.
    from .operators.merge import scd2_build, scd2_lookup

    ev = load_table(spark, sf_dir, "events")
    dim = scd2_build(
        ev, "user_id", ["event_type"], "ts", ["event_id"]
    ).withColumnRenamed("event_type", "segment")
    facts = ev.select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") - F.lit(3_600_000_000)).alias("at_us"),
    )
    return scd2_lookup(facts, dim, "user_id", "at_us", ["segment"])


_register(
    "scd2_asof_lookup",
    _scd2_asof_lookup,
    """
WITH l AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER w AS rn,
         lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
f0 AS (
  SELECT *, CASE WHEN rn > 1 AND prev IS NOT DISTINCT FROM event_type
                 THEN 0 ELSE 1 END AS chg
  FROM l
),
g AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM f0
),
i AS (
  SELECT user_id, island, event_type, min(ts) AS vf
  FROM g GROUP BY 1, 2, 3
),
u AS (
  SELECT user_id, epoch_us(vf) AS vfu, event_type AS segment,
         CAST(island AS INT) AS version,
         row_number() OVER (PARTITION BY user_id, vf
                            ORDER BY island DESC) AS rk
  FROM i
),
d AS (SELECT user_id, vfu, segment, version FROM u WHERE rk = 1),
fct AS (
  SELECT event_id, user_id, epoch_us(ts) - 3600000000 AS at_us FROM events
)
SELECT fct.event_id, fct.user_id, fct.at_us, d.segment, d.version
FROM fct ASOF LEFT JOIN d
  ON fct.user_id = d.user_id AND fct.at_us >= d.vfu
""",
    # SCD2 read side: build (1 exchange; same-instant dedup agg
    # reuses the key clustering) + as-of union scan (1 exchange on
    # the union frame) — NEVER a per-fact range probe or a
    # fact×interval join
    audit={"max_shuffles": 2, "codegen": True, "no_python_udf": True},
)


def _hash_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.training import hash_split

    return hash_split(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "split"
    )


_register(
    "hash_split",
    _hash_split_q,
    """
SELECT doc_id,
       CASE WHEN substr(md5('split:' || doc_id), 1, 8) < 'cccccccc' THEN 'train'
            WHEN substr(md5('split:' || doc_id), 1, 8) < 'e6666666' THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)


def _stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.training import stratified_sample

    return stratified_sample(
        load_table(spark, sf_dir, "documents"), "lang", 20
    )


_register(
    "stratified_sample",
    _stratified_sample_q,
    """
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *, row_number() OVER (
           PARTITION BY lang ORDER BY md5('0:' || doc_id), doc_id) AS rk
  FROM documents
) WHERE rk <= 20
""",
)


def _redact_pii_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via http://ex.com/"),
            F.col("doc_id").cast("string"),
            F.lit(" ref 1234567890"),
        ),
    )
    return redact_pii(seeded)


_register(
    "redact_pii",
    _redact_pii_q,
    r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com via http://ex.com/'
              || doc_id || ' ref 1234567890' AS t
  FROM documents
),
red AS (
  SELECT doc_id, t,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g'),
          'https?://[^ ]+', '<URL>', 'g'),
        '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
      '[0-9]{7,}', '<NUMBER>', 'g') AS text
  FROM seeded
)
SELECT doc_id, text, text <> t AS was_redacted FROM red
""",
)


def _line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions.dedup import line_dedup

    return line_dedup(load_table(spark, sf_dir, "documents"), words_per_line=8)


_register(
    "line_dedup",
    _line_dedup_q,
    """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS wds FROM documents
),
nl AS (
  SELECT doc_id, wds, CAST(ceil(len(wds) / 8.0) AS INTEGER) AS n_lines FROM w
),
ex AS (
  SELECT doc_id, unnest(generate_series(0, n_lines - 1)) AS pos, wds FROM nl
),
ln AS (
  SELECT doc_id, pos, array_to_string(wds[pos*8+1 : pos*8+8], ' ') AS line FROM ex
),
kept AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk
  FROM ln
),
re AS (
  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text,
         CAST(COUNT(*) AS INTEGER) AS n_kept
  FROM kept WHERE rk = 1 GROUP BY doc_id
)
SELECT n.doc_id, COALESCE(re.text, '') AS text, n.n_lines,
       COALESCE(re.n_kept, 0) AS n_kept
FROM nl n LEFT JOIN re ON n.doc_id = re.doc_id
""",
)


def _vox_morton_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.zorder import morton_expr

    return synthetic_voxels(spark).select(
        "z", "y", "x", "label", morton_expr(["z", "y", "x"], 8).alias("morton")
    )


def _morton_oracle() -> str:
    from .operators.zorder import morton_sql

    return (
        f"WITH {VOX_CTE} "
        f"SELECT z, y, x, label, {morton_sql(['z', 'y', 'x'], 8)} AS morton "
        "FROM voxels"
    )


_register("vox_morton", _vox_morton_q, _morton_oracle())


# ---------------------------------------------------------------------------
# Round 3: chunk-packed bulk kernels for outline / pyramid / mode — the
# last COO-only bulk paths (VERDICT r2 "Next round #1").  Each is checked
# against the SAME oracle as its COO twin: chunk path ≡ COO path ≡ SQL.
# ---------------------------------------------------------------------------


def _vox_outline_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T4 on the bulk path: per-chunk kernel + 1-voxel face halo exchange
    # (upscale_streaming_enhance.py:107-119 semantics, non-wrap default).
    from .operators.outline import outline_chunks
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    return chunks_to_voxels(outline_chunks(chunks, wrap=False))


_register("vox_outline_chunkpath", _vox_outline_chunkpath, ORACLES["vox_outline"])


def _vox_outline_wrap_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The da.roll torus variant on the bulk path: halo faces address
    # neighbors modulo the chunk grid (SURVEY.md §4.3.3 bug-compat).
    from .operators.outline import outline_chunks
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    return chunks_to_voxels(outline_chunks(chunks, wrap=True))


_register(
    "vox_outline_wrap_chunkpath", _vox_outline_wrap_chunkpath, ORACLES["vox_outline_wrap"]
)


def _vox_decimate_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T5 decimation on the bulk path: zero-shuffle per-chunk stride view
    # (prev[::2,::2,::2], upscale_streaming_enhance.py:125-139).
    from .operators.pyramid import decimate_chunks
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    return chunks_to_voxels(decimate_chunks(chunks, 2))


_register("vox_decimate_chunkpath", _vox_decimate_chunkpath, ORACLES["vox_decimate"])


def _vox_mode_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Majority-vote downsample on the bulk path: stride-aligned chunks →
    # every 2³ block is chunk-local, zero shuffle.
    from .operators.pyramid import downsample_mode_chunks
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    return chunks_to_voxels(downsample_mode_chunks(chunks, 2))


_register(
    "vox_mode_chunkpath",
    _vox_mode_chunkpath,
    f"""
WITH {VOX_CTE},
counts AS (
  SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, label, count(*) AS n
  FROM voxels GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT z, y, x, label,
         row_number() OVER (PARTITION BY z, y, x ORDER BY n DESC, label ASC) AS rk
  FROM counts
)
SELECT z, y, x, label FROM ranked WHERE rk = 1
""",
)


# ---------------------------------------------------------------------------
# Driver-sample ordering.  The driver's correctness gate samples a prefix
# of queries() — the first 50 keys.  After r6 every one of the 224
# registered rows has driver-green evidence (union of
# CORRECTNESS_r0{1..6}.json), so the rotation is STALENESS-driven
# (r6 verdict, next-round #5): _LAST_GREEN records the most recent round
# each row was driver-green, and ordered_queries() leads with the
# longest-unchecked rows — evidence from five rounds of code drift ago
# re-proves before last round's.  Queries with no entry (new this
# round) sort first of all, so new work still can't skip the driver
# gate.  Local verification always runs the full set regardless of
# order (tools/check_oracle.py).
# ---------------------------------------------------------------------------

#: name -> most recent round whose CORRECTNESS_r0N.json has this row
#: green (rows+schema match, err null) — regenerated each round from
#: the committed JSON files.
_LAST_GREEN = {
    # last driver-green in round 6 (21 rows)
    "approx_agg": 6, "array_functions": 6, "attribution_weights": 6,
    "bloom_semi_join": 6, "cms_heavy_hitters": 6, "date_arithmetic": 6,
    "edit_distance_join": 6, "entity_resolution_parts": 6, "event_transitions":
    6, "frame_sample_plan": 6, "incremental_join_view": 6, "ndv_rolling_7d": 6,
    "ndv_setops_sketch": 6, "null_semantics": 6, "sorted_neighborhood": 6,
    "table_checksum": 6, "text_normalize": 6, "unpivot_lineitem": 6,
    "vox_zarr3_shard_roundtrip": 6, "vox_zarr_blosc_roundtrip": 6,
    "window_frames": 6,
    # last driver-green in round 7 (50 rows)
    "asof_events_orders": 7, "asof_forward": 7, "bpe_pair_counts": 7,
    "chunk_documents": 7, "correlation_stats": 7, "decimate_lineitem": 7,
    "dedup_exact": 7, "dedup_minhash_lsh": 7, "dedup_ngram_jaccard": 7,
    "dedup_simhash": 7, "doc_fingerprint": 7, "doc_pipeline": 7,
    "duplicate_spans": 7, "duplicate_windows": 7, "embed_ann_lsh": 7,
    "embed_ivf_topk": 7, "embed_near_dup": 7, "embed_topk": 7, "ewma_events":
    7, "fuzzy_lookup": 7, "json_extract_events": 7, "lang_id": 7, "lm_score":
    7, "mixture_resample": 7, "mixture_upsample": 7, "multimodal_digest": 7,
    "prepare_rag_corpus": 7, "quality_score": 7, "scalar_functions": 7,
    "semi_anti_customers": 7, "sessionize": 7, "set_except_intersect": 7,
    "sliding_window_agg": 7, "text_stats": 7, "time_bucket_agg": 7,
    "tpch_q2_min_cost": 7, "tpch_q3_shipping": 7, "tpch_q4_priority": 7,
    "tpch_q5_local_supplier": 7, "upscale_lineitem": 7, "value_histogram": 7,
    "vox_centroids": 7, "vox_mhd_scan": 7, "vox_tiff_export_roundtrip": 7,
    "vox_upscale_chunkpath": 7, "vox_zarr3_reshard_roundtrip": 7,
    "vox_zarr3_update_roundtrip": 7, "vox_zarr_lz4_roundtrip": 7,
    "winsorize_quantity": 7, "zscore_outliers": 7,
    # last driver-green in round 8 (50 rows)
    "assemble_packs": 8, "audio_fingerprint_values": 8, "audio_near_dup": 8,
    "bm25_topk": 8, "changelog_apply": 8, "check_constraints_lineitem": 8,
    "cohort_retention": 8, "contamination": 8, "embed_ivf_pq_topk": 8,
    "embed_pq_topk": 8, "funnel_counts": 8, "graph_triangles": 8,
    "hash_features": 8, "hash_split": 8, "image_dup_clusters": 8,
    "image_phash_neardup": 8, "image_phash_values": 8, "line_dedup": 8,
    "mad_outliers": 8, "map_functions": 8, "model_quality_screen": 8,
    "multimodal_audio": 8, "ndv_sketch": 8, "pack_sequences": 8,
    "prepare_training_set": 8, "profile_drift_lineitem": 8, "profile_lineitem":
    8, "region_rollup_chunkpath": 8, "resample_interpolate": 8,
    "rolling_median": 8, "semantic_dedup": 8, "setsim_prefix_join": 8,
    "tpch_q6_forecast": 8, "tpch_q7_volume_shipping": 8,
    "tpch_q8_market_share": 8, "tpch_q9_profit": 8, "train_shuffle": 8,
    "video_frame_hashes": 8, "video_near_dup": 8, "vox_adjacency_chunkpath": 8,
    "vox_components_chunkpath": 8, "vox_decimate_chunkpath": 8,
    "vox_enhance_chunkpath": 8, "vox_erode_chunkpath": 8,
    "vox_histogram_chunkpath": 8, "vox_mode_chunkpath": 8, "vox_morton": 8,
    "vox_outline_chunkpath": 8, "vox_point_lookup_chunkpath": 8,
    "weighted_sample": 8,
    # last driver-green in round 9 (50 rows)
    "avi_frame_hashes": 9, "avi_info": 9, "bigram_coherence": 9,
    "bm25_index_topk": 9, "cdc_apply": 9, "crawl_pagerank": 9,
    "dedup_canonical_quality": 9, "dedup_clusters": 9, "embed_covariance": 9,
    "funnel_within": 9, "gif_anim_frame_digests": 9, "gif_info": 9,
    "gif_phash_values": 9, "graph_bfs": 9, "graph_pagerank": 9,
    "histogram_equidepth": 9, "hll_ndv": 9, "image_phash_jpeg": 9,
    "incremental_agg": 9, "interval_islands": 9, "jpeg_decode_blocks": 9,
    "jpeg_decode_progressive": 9, "jpeg_dims": 9, "jsonl_roundtrip": 9,
    "link_graph_edges": 9, "main_content_extract": 9, "market_basket_lift": 9,
    "media_census": 9, "mp4_info": 9, "page_metadata": 9, "quantile_sketch": 9,
    "robots_filter": 9, "scd2_asof_lookup": 9, "scd2_user_segments": 9,
    "seasonal_anomalies": 9, "seasonal_decompose": 9,
    "setsim_containment_join": 9, "sitemap_urls": 9, "stratified_sample": 9,
    "table_diff": 9, "twap_events": 9, "url_canonicalize": 9,
    "url_dedup_canonical": 9, "url_dedup_groups": 9, "url_domain_counts": 9,
    "vox_components": 9, "warc_census": 9, "warc_charset_extract": 9,
    "warc_html_extract": 9, "warc_url_dedup": 9,
    # last driver-green in round 10 (50 rows)
    "corpus_report": 10, "cumulative_users": 10, "embed_centroids": 10,
    "embed_knn_graph": 10, "embed_quantize": 10, "image_phash_webp": 10,
    "lateral_topk_per_cust": 10, "negative_samples": 10, "oov_rate": 10,
    "orders_above_cust_avg": 10, "pareto_orders": 10, "percentile_quantity":
    10, "range_join_events": 10, "rare_terms": 10, "recrawl_schedule": 10,
    "redirect_chains": 10, "region_volume_rollup": 10, "revenue_by_month": 10,
    "robots_crawl_delays": 10, "salted_join": 10, "scalar_subquery": 10,
    "sequence_gaps": 10, "sitemap_entries": 10, "string_functions": 10,
    "tfidf_topterms": 10, "tpch_q10_returns": 10, "tpch_q11_important_stock":
    10, "tpch_q12_shipmode": 10, "tpch_q13_custdist": 10, "tpch_q14_promo": 10,
    "tpch_q15_top_supplier": 10, "tpch_q16_supplier_cnt": 10,
    "tpch_q17_small_qty": 10, "tpch_q18_large_orders": 10, "url_psl_domains":
    10, "vocab_topk": 10, "vox_adjacency": 10, "vox_bbox": 10, "vox_dilate":
    10, "vox_downsample_mode": 10, "vox_erode": 10, "vox_histogram_preserved":
    10, "vox_point_after_upscale": 10, "vox_relabel": 10, "vox_tiff_scan": 10,
    "vox_zorder_code": 10, "warc_errors": 10, "warc_recrawl_schedule": 10,
    "webp_anim_frame_digests": 10, "webp_info": 10,
    # last driver-green in round 11 (50 rows)
    "crawl_frontier": 11, "cube_counts": 11, "dim_filter_project": 11,
    "dim_join_left": 11, "distinct_agg": 11, "embed_pca_topk": 11,
    "event_neighbor_diff": 11, "funnel_steps": 11, "grouping_sets": 11,
    "hierarchy_join": 11, "multimodal_features": 11, "pdf_info": 11,
    "pdf_text_extract": 11, "pivot_returnflag": 11, "redact_pii": 11,
    "repetition_stats": 11, "resample_ffill": 11, "rollup_counts": 11,
    "tfrecord_embeddings_roundtrip": 11, "tfrecord_roundtrip": 11,
    "topk_orders": 11, "tpch_q19_disjunctive": 11, "tpch_q1_pricing": 11,
    "tpch_q20_nested_in": 11, "tpch_q21_waiting": 11, "tpch_q22_global_sales":
    11, "vox_closure": 11, "vox_decimate": 11, "vox_decode": 11,
    "vox_dilate_chunkpath": 11, "vox_extents": 11, "vox_extents_chunkpath": 11,
    "vox_hierarchy": 11, "vox_histogram": 11, "vox_meta_report": 11,
    "vox_outline": 11, "vox_outline_wrap": 11, "vox_outline_wrap_chunkpath":
    11, "vox_point_lookup": 11, "vox_pyramid": 11, "vox_rechunk_fastpaths": 11,
    "vox_resize": 11, "vox_rotate": 11, "vox_upscale2": 11,
    "vox_verify_upscale": 11, "vox_zarr_roundtrip": 11,
    "webp_lossy_alpha_digest": 11, "webp_lossy_decode": 11, "window_rank_topk":
    11, "window_running_sum": 11,
}


def ordered_queries() -> dict[str, QueryFn]:
    """All registered queries, stalest driver evidence first: rows with
    no green round yet (new queries) lead, then ascending last-green
    round; registration order breaks ties deterministically."""
    reg = {n: i for i, n in enumerate(QUERIES)}
    names = sorted(QUERIES, key=lambda n: (_LAST_GREEN.get(n, 0), reg[n]))
    return {n: QUERIES[n] for n in names}


def _vox_enhance_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's composed enhance workload END-TO-END on the bulk
    # path (upscale_streaming_enhance.py:348-364): upscale ×2 → torus
    # outline → 2-level decimation pyramid, all chunk-packed (narrow
    # upscale, one halo exchange, zero-shuffle levels).
    from .operators.enhance import enhance_chunks
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    enh = enhance_chunks(
        chunks, scale=2, outline=True, levels=2, wrap=True, cache_base=False
    )
    out = None
    for lvl in (0, 1):
        vox = chunks_to_voxels(enh.filter(F.col("level") == lvl).drop("level"))
        lv = vox.select(F.lit(lvl).cast("int").alias("level"), "z", "y", "x", "label")
        out = lv if out is None else out.unionByName(lv)
    return out


_register(
    "vox_enhance_chunkpath",
    _vox_enhance_chunkpath,
    f"""
WITH {VOX_CTE},
up AS (
  SELECT v.z * 2 + a.range AS z, v.y * 2 + b.range AS y, v.x * 2 + c.range AS x, v.label
  FROM voxels v, range(2) a, range(2) b, range(2) c
),
nb AS (
  SELECT z, y, x, label,
         coalesce(lag(label)  OVER (PARTITION BY z, y ORDER BY x),
                  last_value(label) OVER (PARTITION BY z, y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS xp,
         coalesce(lead(label) OVER (PARTITION BY z, y ORDER BY x),
                  first_value(label) OVER (PARTITION BY z, y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS xn,
         coalesce(lag(label)  OVER (PARTITION BY z, x ORDER BY y),
                  last_value(label) OVER (PARTITION BY z, x ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS yp,
         coalesce(lead(label) OVER (PARTITION BY z, x ORDER BY y),
                  first_value(label) OVER (PARTITION BY z, x ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS yn,
         coalesce(lag(label)  OVER (PARTITION BY y, x ORDER BY z),
                  last_value(label) OVER (PARTITION BY y, x ORDER BY z
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS zp,
         coalesce(lead(label) OVER (PARTITION BY y, x ORDER BY z),
                  first_value(label) OVER (PARTITION BY y, x ORDER BY z
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS zn
  FROM up
),
outlined AS (
  SELECT z, y, x,
         CASE WHEN label != xp OR label != xn OR label != yp OR label != yn
                   OR label != zp OR label != zn THEN label ELSE 0 END AS label
  FROM nb
)
SELECT CAST(0 AS INTEGER) AS level, z, y, x, label FROM outlined
UNION ALL
SELECT CAST(1 AS INTEGER), z // 2, y // 2, x // 2, label
FROM outlined WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
""",
)


def _vox_erode_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 6-neighborhood erosion on the bulk path (shared halo exchange).
    from .operators.outline import morphology_chunks
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    return chunks_to_voxels(morphology_chunks(chunks, op="erode", wrap=False))


_register("vox_erode_chunkpath", _vox_erode_chunkpath, ORACLES["vox_erode"])


def _vox_dilate_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.outline import morphology_chunks
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    return chunks_to_voxels(morphology_chunks(chunks, op="dilate", wrap=False))


_register("vox_dilate_chunkpath", _vox_dilate_chunkpath, ORACLES["vox_dilate"])


def _vox_rechunk_fastpaths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T6 aligned rechunk round-trip: split (narrow, zero shuffle) then
    # merge (one packed-payload shuffle) back to the original geometry —
    # the volume must be bit-identical to the fixture cube.
    from .volume import chunks_to_voxels, merge_chunks, split_chunks, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    return chunks_to_voxels(merge_chunks(split_chunks(chunks, (2, 2, 2)), (2, 2, 2)))


_register(
    "vox_rechunk_fastpaths",
    _vox_rechunk_fastpaths,
    f"""
WITH {VOX_CTE}
SELECT z, y, x, label FROM voxels
""",
)


def _vox_histogram_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Label histogram on the bulk path: the exchange carries each
    # chunk's DISTINCT labels, never exploded voxels.
    from .operators.verify import histogram_chunks
    from .volume import synthetic_chunks

    return histogram_chunks(synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8)))


_register("vox_histogram_chunkpath", _vox_histogram_chunkpath, ORACLES["vox_histogram"])


def _vox_extents_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # V3 smoke on the bulk path: dims/counts from chunk metadata only.
    from .operators.verify import volume_extents_chunks
    from .volume import synthetic_chunks

    return volume_extents_chunks(synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8)))


_register("vox_extents_chunkpath", _vox_extents_chunkpath, ORACLES["vox_extents"])


def _vox_point_lookup_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q1+Q4 directly on the packed store: metadata-range pruning + SQL
    # byte extraction — no payload decode, no Python anywhere.
    from .operators.relational import point_lookup_chunks
    from .volume import synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    hit = point_lookup_chunks(chunks, 4, 4, 4)
    return R.decode_labels(hit, R.synthetic_regions(spark))


_register(
    "vox_point_lookup_chunkpath", _vox_point_lookup_chunkpath, ORACLES["vox_point_lookup"]
)


def _region_rollup_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ontology rollup over chunk-path histogram partials: the exchange
    # carries per-chunk distinct labels, the dim is broadcast.
    from .operators.verify import histogram_chunks
    from .volume import synthetic_chunks

    hist = histogram_chunks(synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8)))
    regions = R.synthetic_regions(spark)
    joined = hist.join(F.broadcast(regions), hist.label == regions.region, "inner")
    return joined.groupBy("parent").agg(
        F.sum("n_voxels").alias("n_voxels"),
        F.count("*").alias("n_regions"),
    )


_register(
    "region_rollup_chunkpath", _region_rollup_chunkpath, ORACLES["region_volume_rollup"]
)


def _vox_adjacency_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Region-contact graph on the bulk path: per-chunk positive-shift
    # pair extraction over the halo exchange; the pair DISTINCT is the
    # only post-exchange aggregation.
    from .operators.outline import region_adjacency_chunks
    from .volume import synthetic_chunks

    return region_adjacency_chunks(synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8)))


_register("vox_adjacency_chunkpath", _vox_adjacency_chunkpath, ORACLES["vox_adjacency"])


def _vox_components_chunkpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-level CCL on the bulk path: per-chunk local labeling (narrow),
    # boundary-strip equivalences (one exchange of faces), global merge
    # on the tiny contact graph — voxels are never iterated globally.
    # Chunked (4,4,4) so fixture components DO straddle chunks.
    from .operators.components import connected_components_chunks
    from .volume import synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(4, 4, 4))
    return connected_components_chunks(chunks, FIXTURE_META.shape)


_register("vox_components_chunkpath", _vox_components_chunkpath, ORACLES["vox_components"])


# ---------------------------------------------------------------------------
# round-3 additions: retrieval, sketches, graph analytics, sampling
# ---------------------------------------------------------------------------

BM25_TERMS = ["hash", "join", "spark"]


def _bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full-text BM25 ranking (rational-idf oracle mode): one corpus-stats
    # reduce + broadcast + narrow scoring + TakeOrderedAndProject top-k.
    from .extensions.retrieval import bm25_topk

    return bm25_topk(load_table(spark, sf_dir, "documents"), BM25_TERMS, k=25)


def _bm25_oracle() -> str:
    from .extensions.retrieval import bm25_oracle_sql

    return bm25_oracle_sql(BM25_TERMS, k=25)


_register(
    "bm25_topk",
    _bm25_topk_q,
    _bm25_oracle(),
    # BM25: one corpus-stats reduce + broadcast 1-row stats + narrow
    # scoring; top-k must be TakeOrderedAndProject, never a sort
    audit={"max_shuffles": 2, "codegen": True, "no_python_udf": True},
)


def _ndv_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mergeable KMV distinct sketches: build per (returnflag, linestatus),
    # merge up to returnflag WITHOUT rescanning rows, estimate, and join
    # the exact NDV so the error is visible in the result itself.
    from .extensions.sketches import ndv_rollup

    li = load_table(spark, sf_dir, "lineitem")
    est = ndv_rollup(
        li, "l_partkey", ["l_returnflag", "l_linestatus"], ["l_returnflag"], k=64
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("ndv_exact")
    )
    return est.join(exact, "l_returnflag").select(
        "l_returnflag", "ndv_est", "sketch_size", "ndv_exact"
    )


_register(
    "ndv_sketch",
    _ndv_sketch_q,
    """
WITH fine AS (
  SELECT l_returnflag, l_linestatus, h FROM (
    SELECT l_returnflag, l_linestatus, h, row_number() OVER (
             PARTITION BY l_returnflag, l_linestatus ORDER BY h) AS rk
    FROM (SELECT DISTINCT l_returnflag, l_linestatus,
                 substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13) AS h
          FROM lineitem)
  ) WHERE rk <= 64
),
merged AS (
  SELECT l_returnflag, h, row_number() OVER (
           PARTITION BY l_returnflag ORDER BY h) AS rk
  FROM (SELECT DISTINCT l_returnflag, h FROM fine)
),
sk AS (
  SELECT l_returnflag, COUNT(*) AS sketch_size, MAX(h) AS kth
  FROM merged WHERE rk <= 64 GROUP BY l_returnflag
),
exact AS (
  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS ndv_exact
  FROM lineitem GROUP BY l_returnflag
)
SELECT s.l_returnflag AS l_returnflag,
       CASE WHEN s.sketch_size < 64 THEN CAST(s.sketch_size AS DOUBLE)
            ELSE CAST(63 * 4503599627370496 AS DOUBLE)
                 / CAST(('0x' || s.kth)::BIGINT AS DOUBLE) END AS ndv_est,
       CAST(s.sketch_size AS INTEGER) AS sketch_size,
       e.ndv_exact AS ndv_exact
FROM sk s JOIN exact e ON s.l_returnflag = e.l_returnflag
""",
    # KMV sketch build+merge+exact-NDV join: every exchange is
    # partial-aggregated or keyed; sketches themselves are KB-sized
    audit={"max_shuffles": 8, "codegen": True, "no_python_udf": True},
)


def _hll_ndv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HyperLogLog twin of ndv_sketch: the ≤6-bits-per-register sketch
    # for huge GROUP BYs.  Fine (returnflag, linestatus) registers
    # merged up to returnflag; the oracle reproduces the registers
    # EXACTLY (md5-prefix bucket, bin()-length rho) and compares the
    # integer harmonic sum plus the raw estimate's single IEEE division.
    from .extensions.sketches import hll_ndv_rollup

    li = load_table(spark, sf_dir, "lineitem")
    est = hll_ndv_rollup(
        li, "l_partkey", ["l_returnflag", "l_linestatus"], ["l_returnflag"], b=8
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("ndv_exact")
    )
    return est.join(exact, "l_returnflag").select(
        "l_returnflag", "nonempty", "s_scaled", "ndv_raw", "ndv_exact"
    )


_register(
    "hll_ndv",
    _hll_ndv_q,
    f"""
WITH parts AS (
  SELECT l_returnflag,
         ('0x' || substr(h, 1, 2))::INTEGER AS bucket,
         ('0x' || substr(h, 3, 13))::BIGINT AS sub
  FROM (SELECT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS h
        FROM lineitem WHERE l_partkey IS NOT NULL)
),
regs AS (
  -- max per (coarse, bucket) == build-fine-then-merge: register max is
  -- associative over any grouping refinement
  SELECT l_returnflag, bucket,
         MAX(CASE WHEN sub = 0 THEN 53
                  ELSE 53 - length(bin(sub)) END) AS rho
  FROM parts GROUP BY l_returnflag, bucket
),
agg AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS INTEGER) AS nonempty,
         CAST((256 - COUNT(*)) * CAST({1 << 53} AS BIGINT)
              + SUM(CAST({1 << 53} AS BIGINT) // (1::BIGINT << rho))
           AS BIGINT) AS s_scaled
  FROM regs GROUP BY l_returnflag
),
exact AS (
  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS ndv_exact
  FROM lineitem GROUP BY l_returnflag
)
SELECT a.l_returnflag AS l_returnflag, a.nonempty AS nonempty,
       a.s_scaled AS s_scaled,
       {0.7213 / (1 + 1.079 / 256) * 256 * 256 * float(1 << 53)!r}
         / CAST(a.s_scaled AS DOUBLE) AS ndv_raw,
       e.ndv_exact AS ndv_exact
FROM agg a JOIN exact e ON a.l_returnflag = e.l_returnflag
""",
    # HLL twin: duplicate-insensitive register max needs NO distinct
    # — (group, bucket) partial agg + group collect + the merge's
    # explode re-agg; everything past the scan is register-sized
    audit={"max_shuffles": 8, "codegen": True, "no_python_udf": True},
)


def _seasonal_decompose_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Additive seasonal-means decomposition of event values: level +
    # hour-of-day seasonal + residual, the de-seasonalized signal
    # anomaly screens should threshold instead of the raw value.
    from .operators.resample import seasonal_decompose

    return seasonal_decompose(
        load_table(spark, sf_dir, "events"),
        period_us=86_400_000_000,
        n_phases=24,
    )


# Both means use the zscore contract (DECIMAL(18,2) sums, one IEEE
# division); phase is pure integer arithmetic — bitwise-portable.
_register(
    "seasonal_decompose",
    _seasonal_decompose_q,
    """
WITH base AS (
  SELECT event_type AS k, event_id AS eid, epoch_us(ts) AS ts_us, value AS v,
         CAST(((epoch_us(ts) % 86400000000) * 24) // 86400000000
              AS INTEGER) AS phase
  FROM events
),
ph AS (
  SELECT k, phase,
         CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS phase_mean
  FROM base GROUP BY k, phase
),
lv AS (
  SELECT k,
         CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS level
  FROM base GROUP BY k
)
SELECT b.k AS event_type, b.eid AS event_id, b.ts_us AS ts_us,
       b.phase AS phase, b.v AS value, l.level AS level,
       p.phase_mean - l.level AS seasonal,
       b.v - p.phase_mean AS residual
FROM base b
JOIN ph p ON b.k = p.k AND b.phase = p.phase
JOIN lv l ON b.k = l.k
""",
    # zscore pattern doubled: two tiny stats aggs broadcast back —
    # the event-sized scan side must never shuffle
    audit={"max_shuffles": 2, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _embed_covariance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distributed exact covariance of the embedding corpus (the moment
    # half of PCA): scaled-integer moments — partition-local int64
    # GEMM partials, DECIMAL totals, one IEEE division per cell.  The
    # oracle replays the same integers through HUGEINT arithmetic.
    from .extensions.linalg import embedding_covariance

    emb = load_table(spark, sf_dir, "embeddings")
    cov = embedding_covariance(emb, scale_bits=20)
    # The operator keeps moment totals DECIMAL(38,0) (BIGINT overflows
    # past ~8e6 normalized rows); the fixture fits comfortably, so cast
    # here — DuckDB's DECIMAL→pandas path goes through float64 and
    # would break the exact compare otherwise.
    return cov.select(
        "i",
        "j",
        "n",
        F.col("sxy").cast("long").alias("sxy"),
        F.col("sx").cast("long").alias("sx"),
        F.col("sy").cast("long").alias("sy"),
        "cov",
    )


_register(
    "embed_covariance",
    _embed_covariance_q,
    """
WITH flat AS (
  SELECT vec_id, i,
         CAST(round(embedding[i + 1]::DOUBLE * 1048576) AS BIGINT) AS x
  FROM embeddings,
       unnest(generate_series(0, len(embedding) - 1, 1)) AS s(i)
),
agg AS (
  SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
         SUM(a.x * b.x) AS sxy, SUM(a.x) AS sx, SUM(b.x) AS sy
  FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       CAST(n AS BIGINT) AS n,
       CAST(sxy AS BIGINT) AS sxy, CAST(sx AS BIGINT) AS sx,
       CAST(sy AS BIGINT) AS sy,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * (n - 1) * 1099511627776::HUGEINT AS DOUBLE) AS cov
FROM agg
""",
    # covariance: the only exchange is the d(d+1)/2-per-partition
    # partial frame's aggregation — partition-count-sized, never
    # data-sized (the Arrow kernel is the sanctioned Python path)
    audit={"max_shuffles": 1},
)


def _embed_pca_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ANN via data-adaptive dimensionality reduction: PCA-reduced
    # candidate search + exact full-dimension rerank.  The eigensolve
    # is driver-side LAPACK (d×d over the exact covariance frame) and
    # not SQL-replayable — but the OUTPUT is: with the candidate cap
    # sized to the corpus (oversample·k ≥ n), reduced-space recall is
    # provably 100%, and since every candidate gets an exact
    # full-dimension rerank the result is identically the exact
    # brute-force top-k — the same oracle SQL as embed_topk.  The
    # whole path (covariance → eigensolve → projection → candidate
    # gen → rerank) still executes; recall at production oversample
    # settings is pytest-bounded (test_pca_topk_recall_against_exact).
    import math

    from .extensions.linalg import pca_topk

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    return pca_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        k=5,
        reduce_k=8,
        oversample=math.ceil(n / 5),
    )


_register(
    "embed_pca_topk",
    _embed_pca_topk_q,
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_COSINE_SQL.format(a='qv', b='cv')} AS cosine
  FROM q, c WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 5
""",
)


def _seasonal_anomalies_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The composition seasonal_decompose exists for: z-score the
    # DE-SEASONALIZED residual, so a spike that is normal for its
    # hour-of-day no longer trips the screen (and genuinely anomalous
    # values inside quiet hours now do).
    from .operators.resample import seasonal_decompose, zscore_outliers

    dec = seasonal_decompose(
        load_table(spark, sf_dir, "events"), with_level=False
    )
    return zscore_outliers(
        dec, threshold=2.5, value_col="residual", id_col="event_id"
    )


_register(
    "seasonal_anomalies",
    _seasonal_anomalies_q,
    """
WITH base AS (
  SELECT event_type AS k, event_id AS eid, value AS v,
         CAST(((epoch_us(ts) % 86400000000) * 24) // 86400000000
              AS INTEGER) AS phase
  FROM events
),
ph AS (
  SELECT k, phase,
         CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS phase_mean
  FROM base GROUP BY k, phase
),
dec AS (
  SELECT b.k, b.eid, b.v - p.phase_mean AS residual
  FROM base b JOIN ph p ON b.k = p.k AND b.phase = p.phase
),
stats AS (
  SELECT k, count(*) AS n,
         sum(CAST(residual AS DECIMAL(18,2))) AS s,
         sum(CAST(residual AS DECIMAL(18,2))
             * CAST(residual AS DECIMAL(18,2))) AS ss
  FROM dec GROUP BY k
),
m AS (
  SELECT k,
         CAST(s AS DOUBLE) / n AS mean,
         sqrt(greatest(0.0, CAST(ss AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))) AS std
  FROM stats
)
SELECT d.eid AS event_id, d.k AS event_type, d.residual AS residual,
       m.mean AS mean, m.std AS std,
       (d.residual - m.mean) / m.std AS z
FROM dec d JOIN m ON d.k = m.k
WHERE abs((d.residual - m.mean) / m.std) > 2.5
""",
    # composed decompose -> zscore: three tiny stats aggs, ALL
    # broadcast back; the event scan still never shuffles
    audit={"max_shuffles": 3, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _jsonl_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSONL ingest fidelity end-to-end: write the documents table as
    # newline-delimited JSON (the corpus interchange format), read it
    # back DISTRIBUTED with a pinned schema, prove nothing changed.
    # The oracle reads the original table — any escaping/encoding/type
    # drift in either direction of the round trip breaks the hash.
    import tempfile

    from .sources.jsonl import read_jsonl, split_corrupt, write_jsonl

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="jsonl_rt_")
    write_jsonl(docs, path)
    rd = read_jsonl(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    clean, _quar = split_corrupt(rd)
    return clean.select("doc_id", "text", "lang", "source", "n_chars")


_register(
    "jsonl_roundtrip",
    _jsonl_roundtrip_q,
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)


def _tfrecord_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ML-export fidelity end-to-end: write the documents table as
    # TFRecord tf.train.Example files (crc32c framing + hand-rolled
    # protobuf, sources/tfrecord.py), scan them back DISTRIBUTED,
    # prove nothing changed.  int64/bytes features are exact by
    # construction; the oracle is the original table, so any framing,
    # varint, escaping or utf-8 drift in either direction breaks the
    # hash.
    import tempfile

    from .sources.tfrecord import export_tfrecord, read_tfrecord

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="tfrec_rt_")
    export_tfrecord(docs, path)
    return read_tfrecord(
        spark,
        path,
        [
            ("doc_id", "long"),
            ("text", "string"),
            ("lang", "string"),
            ("source", "string"),
            ("n_chars", "long"),
        ],
    )


_register(
    "tfrecord_roundtrip",
    _tfrecord_roundtrip_q,
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
    # TFRecord scan half of the roundtrip: one path-repartition
    # exchange, then executor-local framing + proto decode
    audit={"max_shuffles": 1},
)


def _tfrecord_roundtrip_gzip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same fidelity contract through TF's GZIP transport
    # (TFRecordOptions(compression_type='GZIP'): the whole file is one
    # gzip member around the unchanged crc32c framing).  The reader
    # detects compression by the gzip magic, not by extension — mixed
    # plain/gzip directories scan uniformly.
    import tempfile

    from .sources.tfrecord import export_tfrecord, read_tfrecord

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="tfrec_gz_")
    export_tfrecord(docs, path, compression="GZIP")
    return read_tfrecord(
        spark,
        path,
        [
            ("doc_id", "long"),
            ("text", "string"),
            ("lang", "string"),
            ("source", "string"),
            ("n_chars", "long"),
        ],
    )


_register(
    "tfrecord_roundtrip_gzip",
    _tfrecord_roundtrip_gzip_q,
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
    # GZIP transport adds no plan shape vs the plain tfrecord row
    audit={"max_shuffles": 1},
)


def _tfrecord_embeddings_roundtrip_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # The embedding-export path: float32 vectors ride the Example
    # float_list (packed 32-bit LE), which is bit-exact for float32
    # end-to-end — the property a training handoff depends on.
    import tempfile

    from .sources.tfrecord import export_tfrecord, read_tfrecord

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    path = tempfile.mkdtemp(prefix="tfrec_emb_")
    export_tfrecord(emb, path)
    rd = read_tfrecord(
        spark,
        path,
        [
            ("vec_id", "long"),
            ("embedding", "float_array"),
            ("label", "long"),
        ],
    )
    # per-ELEMENT comparison: posexplode the read-back vectors so the
    # oracle checks every float32 individually (both engines widen
    # float32 -> float64 identically, so equality is bitwise)
    return rd.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.posexplode("embedding").alias("pos", "val"),
    ).select("vec_id", "label", F.col("pos").cast("int"), "val")


_register(
    "tfrecord_embeddings_roundtrip",
    _tfrecord_embeddings_roundtrip_q,
    """
SELECT e.vec_id, e.label,
       CAST(i.range AS INTEGER) AS pos,
       embedding[CAST(i.range AS INTEGER) + 1] AS val
FROM embeddings e, range(0, 64) i
WHERE i.range < len(e.embedding)
""",
)


def _vox_zarr_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's on-disk product end-to-end: build a 2-level
    # pyramid on the bulk path, write it as a REAL OME-Zarr v2 store
    # (hand-rolled to the public spec — zlib chunks, .zarray/.zattrs
    # multiscales), then scan it back DISTRIBUTED and prove every
    # voxel of every level survived the format boundary.
    import tempfile

    from .operators.enhance import enhance_chunks
    from .sinks.ome_zarr import scan_ome_zarr, write_ome_zarr
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    pyr = enhance_chunks(chunks, scale=1, outline=False, levels=2)
    path = tempfile.mkdtemp(prefix="omezarr_") + "/vol.zarr"
    write_ome_zarr(pyr, path, FIXTURE_META)
    out = None
    for lvl in (0, 1):
        vox = chunks_to_voxels(scan_ome_zarr(spark, path, lvl))
        lv = vox.select(
            F.lit(lvl).cast("int").alias("level"), "z", "y", "x", "label"
        )
        out = lv if out is None else out.unionByName(lv)
    return out


_register(
    "vox_zarr_roundtrip",
    _vox_zarr_roundtrip_q,
    f"""
WITH {VOX_CTE}
SELECT CAST(0 AS INTEGER) AS level, z, y, x, label FROM voxels
UNION ALL
SELECT CAST(1 AS INTEGER) AS level, z // 2, y // 2, x // 2, label
FROM voxels WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
""",
)


def _vox_zarr_blosc_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Codec parity with the reference's ACTUAL store: Blosc zstd
    # BITSHUFFLE chunks (upscale_streaming.py:103-108), encoded and
    # decoded by the pure-NumPy c-blosc codec (sources/blosc1.py) —
    # write the volume as a blosc-compressed OME-Zarr store, scan it
    # back distributed, prove every voxel survived.
    import tempfile

    from .sinks.ome_zarr import scan_ome_zarr, write_ome_zarr
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    path = tempfile.mkdtemp(prefix="omezarr_blosc_") + "/vol.zarr"
    write_ome_zarr(chunks, path, FIXTURE_META, compressor="blosc", clevel=5)
    return chunks_to_voxels(scan_ome_zarr(spark, path, 0)).select(
        "z", "y", "x", "label"
    )


_register(
    "vox_zarr_blosc_roundtrip",
    _vox_zarr_blosc_roundtrip_q,
    f"WITH {VOX_CTE}\nSELECT z, y, x, label FROM voxels",
)


def _vox_zarr3_shard_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The FORWARD format boundary: Zarr v3 + sharding_indexed (OME-NGFF
    # 0.5) — many chunks per storage object with a crc32c-checked binary
    # index, the layout that keeps a 100 TB store's object count sane.
    # Write sharded, scan back distributed, prove voxel identity.
    import tempfile

    from .sinks.zarr3 import scan_zarr3, write_zarr3
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    path = tempfile.mkdtemp(prefix="zarr3_") + "/vol.zarr"
    write_zarr3(chunks, path, FIXTURE_META, shard=(2, 2, 2))
    return chunks_to_voxels(scan_zarr3(spark, path, 0)).select(
        "z", "y", "x", "label"
    )


_register(
    "vox_zarr3_shard_roundtrip",
    _vox_zarr3_shard_roundtrip_q,
    f"WITH {VOX_CTE}\nSELECT z, y, x, label FROM voxels",
)


def _vox_zarr_lz4_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference pipeline's OTHER compressor choice
    # (upscale_streaming.py:103-108 offers zstd or lz4): Blosc lz4
    # BITSHUFFLE chunks in c-blosc's SPLIT block layout (bit 4 clear,
    # typesize byte-plane streams per block — what the C library
    # actually writes for lz4), encoded and decoded by the pure-NumPy
    # codec.  Write, scan back distributed, prove voxel identity.
    import tempfile

    from .sinks.ome_zarr import scan_ome_zarr, write_ome_zarr
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    path = tempfile.mkdtemp(prefix="omezarr_lz4_") + "/vol.zarr"
    write_ome_zarr(chunks, path, FIXTURE_META, compressor="blosc-lz4", clevel=5)
    return chunks_to_voxels(scan_ome_zarr(spark, path, 0)).select(
        "z", "y", "x", "label"
    )


_register(
    "vox_zarr_lz4_roundtrip",
    _vox_zarr_lz4_roundtrip_q,
    f"WITH {VOX_CTE}\nSELECT z, y, x, label FROM voxels",
)


def _vox_zarr3_update_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The incremental-maintenance path end-to-end: write the sharded v3
    # store, then update_zarr3 splices ONE changed chunk in (byte-
    # copying the shard's untouched chunks) and demotes another to
    # fill via an all-zero payload; the distributed scan must read back
    # exactly the composed volume.
    import tempfile

    import numpy as np
    import pandas as pd

    from .sinks.zarr3 import scan_zarr3, update_zarr3, write_zarr3
    from .volume import PAYLOAD_DTYPE, chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    path = tempfile.mkdtemp(prefix="zarr3_upd_") + "/vol.zarr"
    write_zarr3(chunks, path, FIXTURE_META, shard=(2, 2, 2))
    z, y, x = np.meshgrid(
        np.arange(8), np.arange(8), np.arange(8), indexing="ij"
    )
    new_block = (900000 + z * 256 + y * 16 + x).astype(PAYLOAD_DTYPE)
    delta = spark.createDataFrame(
        pd.DataFrame(
            {
                "volume_id": ["v", "v"],
                "cz": [0, 1], "cy": [0, 1], "cx": [0, 1],
                "z0": [0, 8], "y0": [0, 8], "x0": [0, 8],
                "dz": [8, 8], "dy": [8, 8], "dx": [8, 8],
                "codec": ["raw", "raw"],
                "payload": [
                    new_block.tobytes(),
                    np.zeros((8, 8, 8), dtype=PAYLOAD_DTYPE).tobytes(),
                ],
            }
        )
    )
    update_zarr3(delta, path, 0)
    return chunks_to_voxels(scan_zarr3(spark, path, 0)).select(
        "z", "y", "x", "label"
    )


def _vox_zarr3_reshard_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The object-store migration op: repack an existing sharded store
    # into a new shard geometry (here sharded → one-object-per-chunk).
    # Chunk payloads move exactly once (zero-shuffle scan → the single
    # shard-key export exchange); the scan of the REPACKED store must
    # read back every voxel.
    import tempfile

    from .sinks.zarr3 import reshard_zarr3, scan_zarr3, write_zarr3
    from .volume import chunks_to_voxels, synthetic_chunks

    chunks = synthetic_chunks(spark, FIXTURE_META, chunk=(8, 8, 8))
    d = tempfile.mkdtemp(prefix="zarr3_rs_")
    src, dst = d + "/src.zarr", d + "/dst.zarr"
    write_zarr3(chunks, src, FIXTURE_META, shard=(2, 2, 2))
    reshard_zarr3(spark, src, dst, shard=None)
    return chunks_to_voxels(scan_zarr3(spark, dst, 0)).select(
        "z", "y", "x", "label"
    )


_register(
    "vox_zarr3_reshard_roundtrip",
    _vox_zarr3_reshard_roundtrip_q,
    f"WITH {VOX_CTE}\nSELECT z, y, x, label FROM voxels",
)


_register(
    "vox_zarr3_update_roundtrip",
    _vox_zarr3_update_roundtrip_q,
    f"""
WITH {VOX_CTE}
SELECT z, y, x,
       CASE WHEN z < 8 AND y < 8 AND x < 8
              THEN 900000 + z * 256 + y * 16 + x
            WHEN z >= 8 AND y >= 8 AND x >= 8 THEN 0
            ELSE label END AS label
FROM voxels
""",
)


GRAPH_EDGES_CTE = """
edges AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
    AND l1.l_quantity >= 40 AND l2.l_quantity >= 40
)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 40)
    l1 = li.select("l_orderkey", F.col("l_partkey").alias("a"))
    l2 = li.select("l_orderkey", F.col("l_partkey").alias("b"))
    return (
        l1.join(l2, "l_orderkey")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def _graph_triangles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Degree-orientation triangle counting over the part co-purchase
    # graph (Suri & Vassilvitskii WWW'11 shape: hub wedges generated at
    # low-degree endpoints).
    from .operators.graph import triangle_stats

    return triangle_stats(_copurchase_edges(spark, sf_dir))


_register(
    "graph_triangles",
    _graph_triangles_q,
    f"""
WITH {GRAPH_EDGES_CTE},
deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
  ) GROUP BY node
),
ranked AS (
  SELECT node, row_number() OVER (ORDER BY degree ASC, node ASC) AS rk FROM deg
),
oriented AS (
  SELECT LEAST(ra.rk, rb.rk) AS src, GREATEST(ra.rk, rb.rk) AS dst
  FROM edges e JOIN ranked ra ON e.a = ra.node JOIN ranked rb ON e.b = rb.node
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM oriented e1
  JOIN oriented e2 ON e1.src = e2.src AND e1.dst < e2.dst
  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       n_triangles
FROM tri
""",
    # degree-orientation triangles: equi-joins only over the
    # CHECKPOINTED oriented edge list — a cartesian anywhere here
    # would be quadratic at scale
    audit={"max_shuffles": 10, "codegen": True, "no_python_udf": True},
)


def _graph_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Integer-scaled PageRank (exactly reproducible across engines and
    # partitionings), 3 unrolled synchronous iterations, top-10.
    from .operators.graph import pagerank

    return pagerank(_copurchase_edges(spark, sf_dir), n_iter=3, top_k=10)


def _graph_pagerank_oracle() -> str:
    from .operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(GRAPH_EDGES_CTE.strip(), n_iter=3, top_k=10)


_register(
    "graph_pagerank",
    _graph_pagerank_q,
    _graph_pagerank_oracle(),
    # integer PageRank: each unrolled round localCheckpoints (plan
    # stays linear in n_iter), so the audited final fragment is just
    # the top-k — which must add NO exchange of its own
    audit={"max_shuffles": 2, "no_python_udf": True},
)


def _resample_interpolate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Linear interpolation onto the hourly grid — the gap-fill the
    # ffill variant can't express; bitwise-portable arithmetic (one
    # IEEE division of integer microsecond deltas).
    from .operators.resample import resample_interpolate

    ev = load_table(spark, sf_dir, "events")
    out = resample_interpolate(ev, step="1 hour")
    return out.select(
        "user_id", F.unix_micros("grid_ts").alias("grid_us"), "value"
    )


_register(
    "resample_interpolate",
    _resample_interpolate_q,
    """
WITH bounds AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS lo, MAX(ts) AS hi
  FROM events GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts,
         CAST(NULL AS DOUBLE) AS v, 1 AS is_grid
  FROM bounds
),
unioned AS (
  SELECT user_id, ts, CAST(value AS DOUBLE) AS v, 0 AS is_grid
  FROM events WHERE value IS NOT NULL
  UNION ALL
  SELECT user_id, ts, v, is_grid FROM grid
),
nb AS (
  SELECT user_id, ts, is_grid,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_grid
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN is_grid = 0 THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, is_grid
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_grid
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN is_grid = 0 THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, is_grid
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM unioned
)
SELECT user_id, epoch_us(ts) AS grid_us,
       CASE WHEN pt IS NOT NULL AND nt IS NOT NULL
            THEN pv + (nv - pv) * (CAST(epoch_us(ts) - pt AS DOUBLE)
                                   / CAST(nt - pt AS DOUBLE))
            WHEN pt IS NOT NULL THEN pv
            ELSE nv END AS value
FROM nb WHERE is_grid = 1
""",
    # linear gap-fill: bounds agg + one per-key window — the grid
    # explode and interpolation stay inside those two exchanges
    audit={"max_shuffles": 3, "codegen": True, "no_python_udf": True},
)


def _weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Efraimidis–Spirakis deterministic weighted sample: 50 documents,
    # inclusion odds proportional to n_chars.
    from .extensions.training import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "n_chars", 50).select(
        "doc_id", "n_chars", "priority"
    )


_register(
    "weighted_sample",
    _weighted_sample_q,
    """
SELECT doc_id, n_chars, priority FROM (
  SELECT doc_id, n_chars,
         round(pow(
           CAST(('0x' || substr(md5('0:' || doc_id), 1, 13))::BIGINT + 1 AS DOUBLE)
             / CAST(4503599627370497 AS DOUBLE),
           1.0 / CAST(n_chars AS DOUBLE)), 9) AS priority
  FROM documents
)
ORDER BY priority DESC, doc_id ASC LIMIT 50
""",
    # A-ES weighted sample: narrow priority projection + per-
    # partition heaps — sampling must never globally sort or shuffle
    audit={"no_shuffle": True, "codegen": True, "no_python_udf": True},
)


_TEXT_INDEX_PATHS: dict[str, str] = {}


def _text_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build the persisted inverted index once per (process, sf_dir) —
    queries against it are then pure partition-pruned reads (the
    build is index maintenance, not query cost)."""
    if sf_dir not in _TEXT_INDEX_PATHS:
        import tempfile

        from .extensions.retrieval import build_text_index

        d = tempfile.mkdtemp(prefix="text_index_")
        build_text_index(load_table(spark, sf_dir, "documents"), d)
        _TEXT_INDEX_PATHS[sf_dir] = d
    return _TEXT_INDEX_PATHS[sf_dir]


def _bm25_index_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same ranking as bm25_topk but served from the persisted inverted
    # index: bucket-pruned posting reads, df from the postings, scores
    # bitwise-equal to the inline scorer (shared oracle proves it).
    from .extensions.retrieval import bm25_index_topk

    return bm25_index_topk(
        spark, _text_index_path(spark, sf_dir), BM25_TERMS, k=25
    )


_register("bm25_index_topk", _bm25_index_topk_q, _bm25_oracle())


def _incremental_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialized-view maintenance: state from the base 3/4 of lineitem,
    # the last 1/4 folded in as a delta (delta-only scan) — the result
    # must be BIT-IDENTICAL to the oracle's full recompute.
    from .operators.incremental import (
        aggregate_state,
        finalize,
        incremental_update,
    )

    li = load_table(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    sums = ["l_quantity", "l_extendedprice"]
    base = li.filter(F.col("l_orderkey") % 4 != 0)
    delta = li.filter(F.col("l_orderkey") % 4 == 0)
    state = incremental_update(
        aggregate_state(base, keys, sums), delta, keys, sums
    )
    return finalize(state, keys, sums)


_register(
    "incremental_agg",
    _incremental_agg_q,
    """
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_quantity,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_l_quantity,
       CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS min_l_quantity,
       CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_l_quantity,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_extendedprice,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_l_extendedprice,
       CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_l_extendedprice,
       CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_l_extendedprice
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    # materialized-view maintenance: base partial + delta partial +
    # state merge — three keyed aggregations, map-side partials; at
    # steady state only the delta partial and the merge run
    audit={"max_shuffles": 4, "codegen": True, "no_python_udf": True},
)


def _table_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Snapshot diff: old = customer; new = a simulated re-crawl (every
    # 7th balance bumped, every 13th row dropped, synthetic rows added).
    from .operators.merge import table_diff

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    new = (
        cust.filter(F.col("c_custkey") % 13 != 0)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0
            ).otherwise(F.col("c_acctbal")),
        )
        .unionByName(
            spark.range(3).select(
                (F.col("id") + 9000001).alias("c_custkey"),
                F.concat(F.lit("new-cust-"), F.col("id").cast("string")).alias(
                    "c_name"
                ),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    return table_diff(cust, new, ["c_custkey"], ["c_name", "c_acctbal"])


_register(
    "table_diff",
    _table_diff_q,
    """
WITH old_t AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer
),
new_t AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 13 <> 0
  UNION ALL
  SELECT 9000001 + i.range, 'new-cust-' || i.range, 0.0 FROM range(3) i
),
j AS (
  SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
         CASE WHEN o.c_custkey IS NULL THEN 'added'
              WHEN n.c_custkey IS NULL THEN 'removed'
              WHEN o.c_name IS NOT DISTINCT FROM n.c_name
                   AND o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
                THEN 'unchanged'
              ELSE 'changed' END AS status,
         o.c_name AS old_c_name, o.c_acctbal AS old_c_acctbal,
         n.c_name AS new_c_name, n.c_acctbal AS new_c_acctbal
  FROM old_t o FULL OUTER JOIN new_t n ON o.c_custkey = n.c_custkey
)
SELECT * FROM j WHERE status <> 'unchanged'
""",
    # snapshot diff: ONE co-partitioned full-outer join (both sides
    # hashed on the key) — diff output is churn-sized
    audit={"max_shuffles": 3, "codegen": True, "no_python_udf": True},
)


def _quantile_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mergeable quantile sketches: per-(returnflag, linestatus) bottom-k
    # row samples of l_quantity merged up to returnflag, quartiles
    # estimated from the merged sample (plus the exact quartile for
    # reference) — rollups answered without rescanning rows.
    from .extensions.sketches import (
        quantile_estimate,
        quantile_sketch,
        quantile_sketch_merge,
    )

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "rowkey",
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit(":"),
            F.col("l_linenumber").cast("string"),
        ),
    )
    fine = quantile_sketch(
        li, "l_quantity", "rowkey", ["l_returnflag", "l_linestatus"], k=256
    )
    merged = quantile_sketch_merge(fine, ["l_returnflag"], k=256)
    est = quantile_estimate(merged, ["l_returnflag"], [0.25, 0.5, 0.75])
    exact = li.groupBy("l_returnflag").agg(
        F.expr("median(l_quantity)").alias("q50_exact")
    )
    return est.join(exact, "l_returnflag").select(
        "l_returnflag", "q25", "q50", "q75", "sample_size", "q50_exact"
    )


_register(
    "quantile_sketch",
    _quantile_sketch_q,
    """
WITH keyed AS (
  SELECT l_returnflag, l_linestatus,
         substr(md5('q:' || l_orderkey || ':' || l_linenumber), 1, 13) AS h,
         l_quantity AS v
  FROM lineitem
),
fine AS (
  SELECT l_returnflag, l_linestatus, h, v FROM (
    SELECT *, row_number() OVER (
             PARTITION BY l_returnflag, l_linestatus ORDER BY h, v) AS rk
    FROM keyed
  ) WHERE rk <= 256
),
merged AS (
  SELECT l_returnflag, h, v FROM (
    SELECT l_returnflag, h, v, row_number() OVER (
             PARTITION BY l_returnflag ORDER BY h, v) AS rk
    FROM fine
  ) WHERE rk <= 256
),
est AS (
  SELECT l_returnflag,
         quantile_cont(v, 0.25) AS q25,
         quantile_cont(v, 0.5) AS q50,
         quantile_cont(v, 0.75) AS q75,
         CAST(COUNT(*) AS BIGINT) AS sample_size
  FROM merged GROUP BY l_returnflag
),
exact AS (
  SELECT l_returnflag, median(l_quantity) AS q50_exact
  FROM lineitem GROUP BY l_returnflag
)
SELECT e.l_returnflag AS l_returnflag, e.q25, e.q50, e.q75,
       e.sample_size, x.q50_exact
FROM est e JOIN exact x ON e.l_returnflag = x.l_returnflag
""",
    # mergeable quantile sketch: rank windows + collect + the
    # sample-sized estimate — every exchange keyed, none data-sized
    # after the first
    audit={"max_shuffles": 8, "codegen": True, "no_python_udf": True},
)


# ---------------------------------------------------------------------------
# round-4 continuation: exact edit-distance join, sorted-neighborhood
# blocking, KMV set-operation estimates
# ---------------------------------------------------------------------------


def _edit_distance_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact Levenshtein self-join via pigeonhole segment signatures
    # (PassJoin): equi-join on (segment, length-class, index) — never
    # all-pairs — then one verify per distinct string pair; the oracle
    # IS the brute-force all-pairs join, so a pass proves the segment
    # filter is complete, not just plausible.
    from .extensions.dedup import edit_distance_join

    return edit_distance_join(
        load_table(spark, sf_dir, "part"), "p_partkey", "p_name", max_dist=2
    )


_register(
    "edit_distance_join",
    _edit_distance_join_q,
    """
WITH s AS (SELECT p_partkey AS id, p_name AS nm FROM part)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
FROM s a JOIN s b ON a.id < b.id
WHERE levenshtein(a.nm, b.nm) <= 2
""",
    # PassJoin exact edit-distance: candidates come from an
    # EQUI-join on (segment, length-class, index) — never a
    # cartesian (the only nested-loop is the bounded-by-contract
    # short-string bucket, len <= d).  Budget covers distinct
    # names, segment join, candidate distinct, and id expansion.
    audit={"max_shuffles": 6, "codegen": True, "no_python_udf": True},
)


def _sorted_neighborhood_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Merge/purge blocking sweep: global order by account balance via
    # range partitions + broadcast prefix-sum offsets (no single-
    # partition sort), neighbors within 10 positions, then the
    # suspected-duplicate predicate (same nation, balance within 0.50).
    from .extensions.dedup import sorted_neighborhood_pairs

    cust = load_table(spark, sf_dir, "customer")
    pairs = sorted_neighborhood_pairs(
        cust, "c_custkey", ["c_acctbal"], window=10
    )
    a = cust.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_acctbal").alias("bal_a"),
        F.col("c_nationkey").alias("nat_a"),
    )
    b = cust.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_acctbal").alias("bal_b"),
        F.col("c_nationkey").alias("nat_b"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("nat_a") == F.col("nat_b"))
        .select(
            "id_a",
            "id_b",
            "rn_a",
            "rn_b",
            (F.col("bal_b") - F.col("bal_a")).alias("bal_diff"),
            F.col("nat_a").alias("nationkey"),
        )
    )


_register(
    "sorted_neighborhood",
    _sorted_neighborhood_q,
    """
WITH r AS (
  SELECT c_custkey, c_acctbal, c_nationkey,
         row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn
  FROM customer
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, a.rn AS rn_a, b.rn AS rn_b,
       b.c_acctbal - a.c_acctbal AS bal_diff,
       a.c_nationkey AS nationkey
FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn < 10
WHERE a.c_nationkey = b.c_nationkey
""",
    # sorted-neighborhood blocking: the ranked frame is
    # localCheckpoint'd (one distinct + one range exchange, run
    # ONCE upstream of this audited plan — rank comes from
    # monotonically_increasing_id, not a re-shuffling window);
    # downstream: bucket join sides + id joins, all narrow
    audit={"max_shuffles": 4, "codegen": True, "no_python_udf": True},
)


def _ndv_setops_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Theta-style set operations over materialized KMV sketch state:
    # union/intersection/jaccard NDV estimates from two groups' sketch
    # arrays (kilobytes), with the exact values joined alongside so
    # the estimator error is visible in the result itself.
    from .extensions.sketches import kmv_set_ops, kmv_sketch

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    sk = kmv_sketch(ev, "user_id", ["event_type"], k=64)
    est = kmv_set_ops(sk, "event_type", "click", "view", k=64)
    per_user = ev.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("nt")
    )
    exact = per_user.agg(
        F.count("*").alias("union_exact"),
        F.count(F.when(F.col("nt") == 2, 1)).alias("inter_exact"),
    )
    return est.crossJoin(exact)


_register(
    "ndv_setops_sketch",
    _ndv_setops_q,
    """
WITH da AS (SELECT DISTINCT substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS h
            FROM events WHERE event_type = 'click'),
db AS (SELECT DISTINCT substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS h
       FROM events WHERE event_type = 'view'),
ska AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM da)
        WHERE rk <= 64),
skb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM db)
        WHERE rk <= 64),
u AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
                     FROM (SELECT h FROM ska UNION SELECT h FROM skb))
      WHERE rk <= 64),
stats AS (SELECT
    (SELECT COUNT(*) FROM ska) AS asz, (SELECT MAX(h) FROM ska) AS akth,
    (SELECT COUNT(*) FROM skb) AS bsz, (SELECT MAX(h) FROM skb) AS bkth,
    (SELECT COUNT(*) FROM u)   AS usz, (SELECT MAX(h) FROM u)   AS ukth,
    (SELECT COUNT(*) FROM u
     WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)) AS common),
est AS (SELECT asz, bsz, usz, common,
    CASE WHEN asz < 64 THEN CAST(asz AS DOUBLE)
         ELSE CAST(63 * 4503599627370496 AS DOUBLE)
              / CAST(('0x' || akth)::BIGINT AS DOUBLE) END AS ndv_a_est,
    CASE WHEN bsz < 64 THEN CAST(bsz AS DOUBLE)
         ELSE CAST(63 * 4503599627370496 AS DOUBLE)
              / CAST(('0x' || bkth)::BIGINT AS DOUBLE) END AS ndv_b_est,
    CASE WHEN usz < 64 THEN CAST(usz AS DOUBLE)
         ELSE CAST(63 * 4503599627370496 AS DOUBLE)
              / CAST(('0x' || ukth)::BIGINT AS DOUBLE) END AS union_est
    FROM stats),
exact AS (SELECT COUNT(*) AS union_exact,
                 COUNT(CASE WHEN nt = 2 THEN 1 END) AS inter_exact
          FROM (SELECT user_id, COUNT(DISTINCT event_type) AS nt
                FROM events WHERE event_type IN ('click', 'view')
                GROUP BY user_id))
SELECT ndv_a_est, ndv_b_est, union_est,
       (CAST(common AS DOUBLE) / CAST(usz AS DOUBLE)) * union_est AS inter_est,
       CAST(common AS DOUBLE) / CAST(usz AS DOUBLE) AS jaccard_est,
       CAST(usz AS INTEGER) AS union_sample,
       union_exact, inter_exact
FROM est, exact
""",
    # KMV set ops: sketch build (distinct + rank + collect) per
    # side; combining is all 1-row broadcast nested loops —
    # kilobytes, never a data-sized exchange
    audit={"max_shuffles": 7, "codegen": True, "no_python_udf": True},
)


def _cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count-min frequency estimates for the exact top-20 terms, joined
    # with the exact counts so the (one-sided) estimation error is
    # visible in the result; the sketch itself is <= depth*width rows.
    from .extensions.sketches import cms_build, cms_estimate
    from .extensions.text import vocab_topk

    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    cms = cms_build(tokens, "token", depth=3, width=256)
    top = vocab_topk(docs, k=20)
    est = cms_estimate(cms, top, "token", depth=3, width=256)
    return top.join(est, "token").select(
        "token", F.col("n").alias("n_exact"), "cms_est", "rank"
    )


_register(
    "cms_heavy_hitters",
    _cms_heavy_hitters_q,
    """
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
counts AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
top AS (SELECT token, n, CAST(rank AS INTEGER) AS rank FROM (
    SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
    FROM counts) WHERE rank <= 20),
cms AS (SELECT r, bucket, count(*) AS cnt FROM (
    SELECT t.r AS r,
           ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || token), 1, 13))::BIGINT
             % 256 AS bucket
    FROM toks, range(3) t(r)) GROUP BY r, bucket),
probes AS (SELECT token, t.r AS r,
           ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || token), 1, 13))::BIGINT
             % 256 AS bucket
           FROM top, range(3) t(r)),
est AS (SELECT token, MIN(COALESCE(cnt, 0)) AS cms_est
        FROM probes LEFT JOIN cms USING (r, bucket) GROUP BY token)
SELECT top.token AS token, top.n AS n_exact, est.cms_est AS cms_est,
       top.rank AS rank
FROM top JOIN est USING (token)
""",
    # count-min: explode + ONE partial-aggregated count exchange
    # for the sketch, top-k heap for the probes, broadcast probe
    # join (the sketch is <= depth*width rows by construction)
    audit={"max_shuffles": 3, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _bloom_semi_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semi-join reduction: Bloom runtime filter built from one nation's
    # customers screens the orders scan before the exact semi-join.
    # The oracle is the PLAIN semi-join, so a Bloom false negative (a
    # dropped match) fails the gate; false positives are removed by
    # the exact join and cost only pruned-scan efficiency.
    from .extensions.sketches import bloom_prefilter_join

    orders = load_table(spark, sf_dir, "orders")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 7)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return bloom_prefilter_join(orders, cust, "o_custkey").select(
        "o_orderkey", "o_custkey"
    )


_register(
    "bloom_semi_join",
    _bloom_semi_join_q,
    """
SELECT o_orderkey, o_custkey FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 7)
""",
    # Bloom semi-join reduction: bitmap build aggregates <=
    # m_bits/64 words; the big side is screened by BROADCAST
    # bitmap + hits joins before any exchange of matched rows
    audit={"max_shuffles": 2, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _entity_resolution_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full entity-resolution composition: exact edit-distance pairs
    # (PassJoin) → connected components → keep/drop clusters with
    # lowest-id canonical election — the string twin of
    # `image_dup_clusters`; the oracle recomputes the clusters from
    # brute-force levenshtein pairs with a recursive min-label CTE.
    from .extensions.dedup import edit_distance_join, near_dup_clusters

    part = load_table(spark, sf_dir, "part")
    pairs = edit_distance_join(part, "p_partkey", "p_name", max_dist=2).select(
        F.col("id_a").alias("d1"), F.col("id_b").alias("d2")
    )
    return near_dup_clusters(
        part.select(F.col("p_partkey").alias("doc_id")), pairs
    ).select(F.col("doc_id").alias("p_partkey"), "cluster_id", "is_keeper")


_register(
    "entity_resolution_parts",
    _entity_resolution_parts_q,
    """
WITH RECURSIVE s AS (SELECT p_partkey AS id, p_name AS nm FROM part),
pr AS (SELECT a.id AS d1, b.id AS d2 FROM s a JOIN s b ON a.id < b.id
       WHERE levenshtein(a.nm, b.nm) <= 2),
und AS (SELECT d1 AS a, d2 AS b FROM pr UNION SELECT d2, d1 FROM pr),
prop AS (
  SELECT id, id AS comp FROM s
  UNION
  SELECT u.a AS id, p.comp FROM prop p JOIN und u ON u.b = p.id
)
SELECT id AS p_partkey, min(comp) AS cluster_id, min(comp) = id AS is_keeper
FROM prop GROUP BY id
""",
)


def _event_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First-order Markov transition matrix over per-user event
    # sequences: one lag window keyed on user (same exchange the
    # sessionizer uses), integer-exact counts, one final division per
    # output row.  The 25-row result is the behavioral-analytics
    # staple (what follows what, and how often).
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    counts = pairs.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    tot = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        (
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
        ).alias("prob"),
    )


_register(
    "event_transitions",
    _event_transitions_q,
    """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
counts AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n,
       CAST(n AS DOUBLE)
         / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS prob
FROM counts
""",
)


def _incremental_join_view_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialized join-view maintenance under append-only deltas:
    # orders/customers each split deterministically into a base load
    # and a delta batch; the view folds through the IVM delta rule
    # (V' = V ∪ ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR) and must equal the oracle's
    # from-scratch join of the full tables.
    from .operators.incremental import incremental_join_update

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey")
    )
    lo = orders.filter(F.col("o_orderkey") % 3 != 0)
    dl = orders.filter(F.col("o_orderkey") % 3 == 0)
    lc = cust.filter(F.col("c_custkey") % 4 != 0)
    dc = cust.filter(F.col("c_custkey") % 4 == 0)
    v0 = incremental_join_update(None, None, None, lo, lc, "c_custkey")
    v1 = incremental_join_update(v0, lo, lc, dl, dc, "c_custkey")
    return v1.select("o_orderkey", "c_custkey", "c_nationkey")


_register(
    "incremental_join_view",
    _incremental_join_view_q,
    """
SELECT o_orderkey, o_custkey AS c_custkey, c_nationkey
FROM orders JOIN customer ON o_custkey = c_custkey
""",
)


def _table_checksum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Order-independent per-group table digest: XOR-fold of 52-bit row
    # hashes + exact counts in ONE scan — the replication/migration
    # validation primitive (two sites compare 4 rows, not 100 TB).
    # XOR is self-inverse, so duplicate-PAIR insertions cancel — the
    # count column is part of the contract, not decoration.
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "bit_xor(CAST(conv(substring(md5(concat_ws('|', "
                "CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING), "
                "CAST(l_partkey AS STRING))), 1, 13), 16, 10) AS BIGINT))"
            ).alias("checksum"),
            F.count("*").alias("n_rows"),
        )
        .select("l_returnflag", "checksum", "n_rows")
    )


_register(
    "table_checksum",
    _table_checksum_q,
    """
SELECT l_returnflag,
       bit_xor(('0x' || substr(md5(
           CAST(l_orderkey AS VARCHAR) || '|' ||
           CAST(l_linenumber AS VARCHAR) || '|' ||
           CAST(l_partkey AS VARCHAR)), 1, 13))::BIGINT) AS checksum,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
)


def _ndv_rolling_7d_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling 7-day distinct users from DAILY KMV sketches: each day's
    # sketch fans out to the 7 window-end days it serves (narrow
    # explode — an equi-keyed merge, never a range join), merges via
    # k-smallest-of-union, and estimates; the exact rolling NDV joins
    # alongside.  This is the sketch-lattice pattern at 100 TB: daily
    # state is kilobytes, a year of rolling MAU curves never rescans
    # events.
    from .extensions.sketches import kmv_estimate_expr, kmv_merge, kmv_sketch

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = kmv_sketch(ev, "user_id", ["day"], k=64)
    days = daily.select(F.col("day").alias("target")).distinct()
    fanned = daily.select(
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("target"),
        "sketch",
    ).join(days, "target", "left_semi")
    merged = kmv_merge(fanned, ["target"], k=64)
    exact = (
        ev.select("user_id", "day")
        .distinct()
        .select(
            "user_id",
            F.explode(F.expr("sequence(day, date_add(day, 6))")).alias(
                "target"
            ),
        )
        .join(days, "target", "left_semi")
        .groupBy("target")
        .agg(F.countDistinct("user_id").alias("ndv_exact"))
    )
    return (
        merged.join(exact, "target")
        .select(
            F.col("target").cast("string").alias("day"),
            kmv_estimate_expr("sketch", 64).alias("ndv_est"),
            F.size("sketch").alias("sketch_size"),
            "ndv_exact",
        )
    )


_register(
    "ndv_rolling_7d",
    _ndv_rolling_7d_q,
    """
WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM ev),
win AS (
  SELECT d.day AS target, e.user_id,
         substr(md5(CAST(e.user_id AS VARCHAR)), 1, 13) AS h
  FROM days d JOIN ev e ON e.day BETWEEN d.day - 6 AND d.day
),
sk AS (
  SELECT target, COUNT(*) AS sketch_size, MAX(h) AS kth FROM (
    SELECT target, h, row_number() OVER (
             PARTITION BY target ORDER BY h) AS rk
    FROM (SELECT DISTINCT target, h FROM win)
  ) WHERE rk <= 64 GROUP BY target
),
exact AS (SELECT target, COUNT(DISTINCT user_id) AS ndv_exact
          FROM win GROUP BY target)
SELECT CAST(s.target AS VARCHAR) AS day,
       CASE WHEN s.sketch_size < 64 THEN CAST(s.sketch_size AS DOUBLE)
            ELSE CAST(63 * 4503599627370496 AS DOUBLE)
                 / CAST(('0x' || s.kth)::BIGINT AS DOUBLE) END AS ndv_est,
       CAST(s.sketch_size AS INTEGER) AS sketch_size,
       e.ndv_exact AS ndv_exact
FROM sk s JOIN exact e ON s.target = e.target
""",
)


def _attribution_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Batch multi-touch attribution: each purchase credits the user's
    # clicks in the preceding 7 days with U-shaped position weights
    # (1.0 solo, 0.5/0.5 for two, else 0.4 first + 0.4 last + 0.2
    # split across the middle).  Per-user band join + one window —
    # pair-level output, so no order-dependent weight sums anywhere.
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("cts"),
    )
    touch = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("ts").alias("tts"),
    )
    j = conv.join(touch, "user_id").filter(
        (F.col("tts") <= F.col("cts"))
        & (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 7 DAYS"))
    )
    w = Window.partitionBy("conv_id").orderBy("tts", "touch_id")
    wn = Window.partitionBy("conv_id")
    ranked = j.select(
        "conv_id",
        "touch_id",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n_touches"),
    )
    weight = (
        F.when(F.col("n_touches") == 1, F.lit(1.0))
        .when(F.col("n_touches") == 2, F.lit(0.5))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("n_touches")),
            F.lit(0.4),
        )
        .otherwise(F.lit(0.2) / (F.col("n_touches") - 2).cast("double"))
    )
    return ranked.select(
        "conv_id", "touch_id", "rn", "n_touches", weight.alias("weight")
    )


_register(
    "attribution_weights",
    _attribution_weights_q,
    """
WITH conv AS (SELECT user_id, event_id AS conv_id, ts AS cts
              FROM events WHERE event_type = 'purchase'),
touch AS (SELECT user_id, event_id AS touch_id, ts AS tts
          FROM events WHERE event_type = 'click'),
ranked AS (
  SELECT c.conv_id, t.touch_id,
         row_number() OVER (PARTITION BY c.conv_id
                            ORDER BY t.tts, t.touch_id) AS rn,
         count(*) OVER (PARTITION BY c.conv_id) AS n_touches
  FROM conv c JOIN touch t ON c.user_id = t.user_id
  WHERE t.tts <= c.cts AND t.tts >= c.cts - INTERVAL 7 DAY
)
SELECT conv_id, touch_id, CAST(rn AS INTEGER) AS rn, n_touches,
       CASE WHEN n_touches = 1 THEN 1.0
            WHEN n_touches = 2 THEN 0.5
            WHEN rn = 1 OR rn = n_touches THEN 0.4
            ELSE 0.2 / CAST(n_touches - 2 AS DOUBLE) END AS weight
FROM ranked
""",
)


def _containment_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Directional quote/excerpt detection: contained-doc shingles ⊆
    # containing doc at ≥ 0.7 — the asymmetric screen Jaccard joins
    # can't see (a snippet inside a long page has Jaccard ≈ 0).
    from .extensions.dedup import containment_join

    docs = load_table(spark, sf_dir, "documents")
    return containment_join(docs, threshold=0.7, n=3)


_register(
    "setsim_containment_join",
    _containment_join_q,
    """
WITH sh AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         unnest(range(len(string_split(text, ' ')) - 2)) AS i
  FROM documents
),
g AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS gram FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d_in, b.doc_id AS d_out, count(*) AS inter
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT i.d_in, i.d_out, i.inter, s1.n AS n_in, s2.n AS n_out,
       CAST(i.inter AS DOUBLE) / s1.n AS containment
FROM inter i
JOIN sz s1 ON i.d_in = s1.doc_id
JOIN sz s2 ON i.d_out = s2.doc_id
WHERE CAST(i.inter AS DOUBLE) / s1.n >= 0.7
""",
    # containment join: post-checkpoint plan is prefix-probe ⋈
    # posting + verify joins — pair-distinct exchange plus the
    # explicit narrow repartition that parallelizes the CPU-bound
    # verify; the array-table joins broadcast at this scale
    audit={"max_shuffles": 2, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _graph_bfs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shortest-hop levels from the smallest part id over the
    # co-purchase graph — 6 synchronous BFS rounds, Pregel-style.
    from .operators.graph import bfs_levels

    return bfs_levels(_copurchase_edges(spark, sf_dir), max_hops=6)


def _graph_bfs_oracle() -> str:
    from .operators.graph import bfs_oracle_sql

    return bfs_oracle_sql(GRAPH_EDGES_CTE.strip(), max_hops=6)


_register("graph_bfs", _graph_bfs_q, _graph_bfs_oracle())


def _dedup_canonical_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keep the BEST copy of each near-dup family (argmax quality, min-id
    # tiebreak) — the production alternative to min-id canonicalization.
    from .extensions.dedup import canonical_by_quality, ngram_jaccard_pairs
    from .extensions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    return canonical_by_quality(docs, pairs, quality_score(docs))


_register(
    "dedup_canonical_quality",
    _dedup_canonical_quality_q,
    f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         unnest(range(len(string_split(text, ' ')) - 2)) AS i
  FROM documents
),
g AS (SELECT DISTINCT doc_id, w[i+1] || '_' || w[i+2] || '_' || w[i+3] AS gram FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
  WHERE inter / (s1.n + s2.n - inter) >= 0.5
),
und AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
prop AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT u.a AS id, p.comp
  FROM prop p JOIN und u ON u.b = p.id
),
clus AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM prop GROUP BY id),
st AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         len(list_filter(string_split(text, ' '), x -> list_contains({_STOPLIST_SQL}, x))) AS n_stop
  FROM documents
),
q AS (
  SELECT doc_id,
         ((CASE WHEN n_chars >= 64 AND n_chars <= 100000 THEN 1.0 ELSE 0.0 END)
          + (CASE WHEN n_stop / n_tokens >= 0.05 THEN 1.0 ELSE 0.0 END)
          + (CASE WHEN n_punct * 4 <= n_tokens THEN 1.0 ELSE 0.0 END)) / 3 AS quality
  FROM st
)
SELECT c.doc_id, c.cluster_id, q.quality,
       row_number() OVER (PARTITION BY c.cluster_id
                          ORDER BY q.quality DESC, c.doc_id ASC) = 1
         AS is_canonical
FROM clus c JOIN q USING (doc_id)
""",
    # canonical-quality dedup: components fixpoint is checkpointed;
    # the residual plan is one quality join + one cluster window
    audit={"max_shuffles": 1, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _histogram_equidepth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact 32-bucket equi-depth histogram of extended price — the
    # skew-proof profile equi-width histograms can't give; global ranks
    # via range partitions + broadcast prefix-sum offsets.
    from .operators.profile import equidepth_histogram

    li = load_table(spark, sf_dir, "lineitem")
    return equidepth_histogram(li, "l_extendedprice", k=32)


_register(
    "histogram_equidepth",
    _histogram_equidepth_q,
    """
WITH r AS (
  SELECT l_extendedprice AS val,
         row_number() OVER (ORDER BY l_extendedprice) AS rn,
         count(*) OVER () AS n
  FROM lineitem
)
SELECT CAST(((rn - 1) * 32) // n AS INTEGER) AS bucket,
       count(*) AS n_rows, min(val) AS lo, max(val) AS hi
FROM r GROUP BY 1
""",
    # equi-depth histogram: range repartition + rank-offsets agg +
    # bounded (<= n_ranges rows) offsets window + final bucket agg —
    # and NEVER a global single-partition sort of the data itself
    audit={"max_shuffles": 5, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _market_basket_lift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Items co-ordered more than independence predicts: top-20 part
    # pairs by lift over order baskets, support >= 3 orders.
    from .extensions.assoc import pair_lift

    li = load_table(spark, sf_dir, "lineitem")
    return pair_lift(li, "l_orderkey", "l_partkey", min_support=3, top_k=20)


_register(
    "market_basket_lift",
    _market_basket_lift_q,
    """
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
),
kept AS (
  SELECT i.basket, i.item FROM items i
  JOIN (SELECT basket, count(*) AS c FROM items GROUP BY basket) s
    ON i.basket = s.basket
  WHERE s.c <= 64
),
nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM kept),
ic AS (SELECT item, count(*) AS cnt FROM kept GROUP BY item),
pc AS (
  SELECT x.item AS a, y.item AS b, count(*) AS cnt_ab
  FROM kept x JOIN kept y ON x.basket = y.basket AND x.item < y.item
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT p.a, p.b, p.cnt_ab, ia.cnt AS cnt_a, ib.cnt AS cnt_b,
       (CAST(p.cnt_ab AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE))
         / (CAST(ia.cnt AS DOUBLE) * CAST(ib.cnt AS DOUBLE)) AS lift
FROM pc p
JOIN ic ia ON p.a = ia.item
JOIN ic ib ON p.b = ib.item
CROSS JOIN nb
ORDER BY lift DESC, p.a, p.b
LIMIT 20
""",
    # basket lift: distinct + size-guard join + pair agg + two item
    # joins; N is a broadcast 1-row frame (no driver round-trip)
    audit={"max_shuffles": 5, "broadcast": True, "codegen": True,
           "no_python_udf": True},
)


def _twap_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Step-function time-weighted mean of `value` per user — weights by
    # how long a reading was current, not how often it was sampled;
    # integer-µs × centi-value sums keep it engine-exact.
    from .operators.resample import time_weighted_avg

    return time_weighted_avg(load_table(spark, sf_dir, "events"))


_register(
    "twap_events",
    _twap_events_q,
    """
WITH s AS (
  SELECT user_id AS k,
         CAST(round(value * 100) AS BIGINT) AS sv,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dur_us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
a AS (
  SELECT k,
         SUM(CASE WHEN dur_us IS NOT NULL THEN sv * dur_us END) AS wsum,
         SUM(dur_us) AS span_us,
         COUNT(*) AS n_events,
         MAX(CASE WHEN rn = 1 THEN sv END) AS first_sv
  FROM s GROUP BY k
)
SELECT k AS user_id,
       CASE WHEN span_us > 0
            THEN CAST(wsum AS DOUBLE) / CAST(CAST(span_us * 100 AS BIGINT) AS DOUBLE)
            ELSE CAST(first_sv AS DOUBLE) / 100 END AS twap,
       CAST(COALESCE(span_us, 0) AS BIGINT) AS span_us,
       n_events
FROM a
""",
)


def _interval_islands_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gaps-and-islands: merge each customer's 30-day order-coverage
    # windows into maximal disjoint spans (epoch-µs endpoints).
    from .operators.resample import merge_intervals

    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("k"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            + F.lit(2592000000000)
        ).alias("e"),
    )
    out = merge_intervals(iv, key_col="k", start_col="s", end_col="e")
    return out.select(
        F.col("k").alias("o_custkey"),
        "island",
        "island_start",
        "island_end",
        "n_intervals",
    )


_register(
    "interval_islands",
    _interval_islands_q,
    """
WITH iv AS (
  SELECT o_custkey AS k, epoch_us(o_orderdate) AS s,
         epoch_us(o_orderdate) + 2592000000000 AS e
  FROM orders
),
f AS (
  SELECT k, s, e,
         CASE WHEN max(e) OVER (PARTITION BY k ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR s > max(e) OVER (PARTITION BY k ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM iv
),
g AS (
  SELECT k, s, e,
         SUM(brk) OVER (PARTITION BY k ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM f
)
SELECT k AS o_custkey, CAST(island AS INTEGER) AS island,
       MIN(s) AS island_start, MAX(e) AS island_end,
       COUNT(*) AS n_intervals
FROM g GROUP BY 1, 2
""",
)


def _knn_graph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mutual k-NN graph over the whole embedding corpus: undirected
    # edges where each endpoint is in the other's bucket-local top-5.
    from .extensions.similarity import knn_graph_mutual

    return knn_graph_mutual(
        load_table(spark, sf_dir, "embeddings"), k=5, n_planes=8
    )


_register(
    "embed_knn_graph",
    _knn_graph_q,
    f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_BUCKET_SQL.format(v='(embedding::DOUBLE[])')} AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {_COSINE_SQL.format(a='q.v', b='n.v')} AS cosine
  FROM c q JOIN c n USING (bucket) WHERE q.vec_id != n.vec_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rk
    FROM scored
  ) WHERE rk <= 5
)
SELECT f.query_id AS a, f.neighbor_id AS b, f.cosine,
       CAST(f.rk AS INTEGER) AS rk_ab, CAST(r.rk AS INTEGER) AS rk_ba
FROM topk f
JOIN topk r ON r.query_id = f.neighbor_id AND r.neighbor_id = f.query_id
WHERE f.query_id < f.neighbor_id
""",
)


def _negative_samples_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reproducible contrastive negatives: 4 LCG-drawn partners per doc.
    from .extensions.training import negative_samples

    return negative_samples(load_table(spark, sf_dir, "documents"), k=4, seed=7)


_register(
    "negative_samples",
    _negative_samples_q,
    """
WITH ids AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
  FROM documents
),
nn AS (SELECT count(*) AS n FROM documents),
pos AS (
  SELECT i.doc_id, i.idx, nn.n, CAST(j.range AS BIGINT) AS j
  FROM ids i CROSS JOIN nn CROSS JOIN range(4) j
),
c0 AS (
  SELECT doc_id, idx, n, j,
         ((1103515245 * ((idx * 4 + j + 7) % 2147483648) + 12345) % 2147483648) % n AS cand
  FROM pos
),
c1 AS (
  SELECT doc_id, j,
         CASE WHEN cand = idx THEN (cand + 1) % n ELSE cand END AS cand
  FROM c0
)
SELECT c1.doc_id, CAST(c1.j AS INTEGER) AS j, i2.doc_id AS neg_doc_id
FROM c1 JOIN ids i2 ON i2.idx = c1.cand
""",
)


def _tfidf_topterms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyword extraction: top-3 rarity-weighted terms per document
    # (rational idf — one exact-integer division, engine-portable).
    from .extensions.text import tfidf_topterms

    return tfidf_topterms(load_table(spark, sf_dir, "documents"), k=3)


_register(
    "tfidf_topterms",
    _tfidf_topterms_q,
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nn AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         CAST(t.tf * (2 * nn.n_docs - 2 * d.df + 1) AS DOUBLE)
           / CAST(2 * d.df + 1 AS DOUBLE) AS score
  FROM tf t JOIN dfx d USING (term) CROSS JOIN nn
)
SELECT doc_id, term, tf, df, score, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3
""",
)


def _pareto_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2-D skyline: orders no other order dominates (higher-or-equal
    # price AND earlier-or-equal date, one strict).  The naive answer
    # is an O(n²) dominance anti-join — the engine answer is
    # O(n log n): collapse to one row per distinct price (min date),
    # running-min over the strictly-higher-price prefix, then one join
    # back.  The oracle IS the naive quadratic NOT EXISTS, proving the
    # rewrite loses nothing.  The running min is DISTRIBUTED (same
    # range-partition + broadcast-offset machinery as
    # dedup.neighbor_pairs): range-partition the distinct-price frame
    # by desc(price), take the per-partition running min with a window
    # PARTITIONED by spark_partition_id, then combine with the
    # exclusive prefix-min of the per-partition minima — a frame of
    # n_ranges rows, broadcast back.  No data-sized frame ever funnels
    # through a single partition; the only single-partition window left
    # is the n_ranges-row prefix combine, a constant independent of
    # data volume.
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("d_us"),
    )
    n_ranges = 32
    pg = base.groupBy("price").agg(F.min("d_us").alias("dmin"))
    # one row per DISTINCT price ⇒ desc(price) is a total order, so
    # range partitions are disjoint price intervals and pid order IS
    # price order (pid 0 = highest prices).  localCheckpoint pins the
    # (sampled, non-deterministic) range boundaries so the offsets job
    # and the join read the same pid assignment.
    wloc = (
        Window.partitionBy("_pid")
        .orderBy(F.desc("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = (
        pg.repartitionByRange(n_ranges, F.desc("price"))
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("mloc", F.min("dmin").over(wloc))
        .localCheckpoint()
    )
    # exclusive prefix-min over <= n_ranges rows: single partition is
    # fine at any data volume (row count is the config constant)
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("_pid")
        .agg(F.min("dmin").alias("_pmin"))
        .withColumn("moff", F.min("_pmin").over(woff))
        .select("_pid", "moff")
    )
    # least() skips NULLs, so partition 0 (moff NULL) and partition-first
    # rows (mloc NULL) fall through to the other operand
    pgm = (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("m1", F.least("moff", "mloc"))
        .select("price", "dmin", "m1")
    )
    keep = base.join(pgm, "price").filter(
        (F.col("d_us") == F.col("dmin"))
        & (F.col("m1").isNull() | (F.col("m1") > F.col("d_us")))
    )
    return keep.select("o_orderkey", "price", "d_us")


_register(
    "pareto_orders",
    _pareto_orders_q,
    """
WITH b AS (
  SELECT o_orderkey, o_totalprice AS price, epoch_us(o_orderdate) AS d_us
  FROM orders
)
SELECT a.o_orderkey, a.price, a.d_us
FROM b a
WHERE NOT EXISTS (
  SELECT 1 FROM b x
  WHERE x.price >= a.price AND x.d_us <= a.d_us
    AND (x.price > a.price OR x.d_us < a.d_us)
)
""",
    # 2-D skyline: the running min over the distinct-price frame is
    # range-partitioned + per-partition windows + an n_ranges-row
    # prefix combine.  The ONE permitted SinglePartition exchange is
    # that combine (row count = the n_ranges constant, independent
    # of data volume); a second one means the data-sized window
    # regressed to a global sort.  (The pre-checkpoint range
    # repartition is audited implicitly: it precedes the
    # localCheckpoint, so any global sort there would surface as a
    # SinglePartition in the checkpoint job — covered by the
    # oracle-checked run in the suite.)
    audit={"max_shuffles": 4, "no_python_udf": True, "single_partition_budget": 1},
)
