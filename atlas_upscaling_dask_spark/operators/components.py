"""Connected-component labeling over the 6-neighborhood.

Finds maximal face-connected sets of equal-label voxels (region
"islands" — e.g. a region split across hemispheres), assigning each
component the minimum linear index of its members as a canonical id.

No reference implementation exists (SURVEY.md §2.8 — the reference has
no iterative operators at all); this is the canonical *iterative*
distributed algorithm on the engine, the same shape as GraphX/Pregel
connected components:

repeat: ``comp[v] = min(comp[v], min over same-label neighbors)``
until a fixpoint.  Each round is one self-join + aggregate (shuffles on
the coordinate key); rounds needed = the largest component's graph
diameter.  Every round ``localCheckpoint``s its result: caching alone
does NOT truncate the logical plan, so Catalyst would re-analyze an
exponentially growing lineage each round (the classic iterative-
DataFrame pitfall — measured: unbounded planning time by round ~10).
Checkpointing keeps each round's plan one step deep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    voxels: DataFrame,
    shape: tuple[int, int, int],
    max_iters: int = 64,
) -> DataFrame:
    """Label face-connected equal-label components.

    Returns (z, y, x, label, comp) with ``comp`` = min linear index
    (z·Y·X + y·X + x) over the component.  Deterministic; converges in
    at most the largest component diameter rounds (guarded by
    ``max_iters``).
    """
    zdim, ydim, xdim = shape
    lin = (F.col("z") * ydim * xdim + F.col("y") * xdim + F.col("x")).alias("comp")
    comp = voxels.select("z", "y", "x", "label", lin).localCheckpoint(eager=True)
    base = voxels.select("z", "y", "x", "label").localCheckpoint(eager=True)

    shifts = [(1, 0, 0), (-1, 0, 0), (0, 1, 0), (0, -1, 0), (0, 0, 1), (0, 0, -1)]
    converged = False
    for _ in range(max_iters):
        neigh = None
        for dz, dy, dx in shifts:
            n = comp.select(
                (F.col("z") + dz).alias("z"),
                (F.col("y") + dy).alias("y"),
                (F.col("x") + dx).alias("x"),
                F.col("label"),
                F.col("comp"),
            )
            neigh = n if neigh is None else neigh.unionByName(n)
        # min over self ∪ same-label neighbors, per voxel
        # group by (coord, label): a shifted neighbor row only merges with
        # the real voxel at that coordinate when labels match; groups for
        # coordinates/labels that are not actual voxels are dropped by the
        # semi-join on ALL four columns.
        merged = (
            comp.unionByName(neigh)
            .groupBy("z", "y", "x", "label")
            .agg(F.min("comp").alias("comp"))
            .join(base, ["z", "y", "x", "label"], "left_semi")
            .localCheckpoint(eager=True)
        )
        changed = (
            merged.alias("m")
            .join(comp.alias("c"), ["z", "y", "x"])
            .filter(F.col("m.comp") != F.col("c.comp"))
            .limit(1)
            .count()
        )
        comp = merged
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters) - raise max_iters"
        )
    return comp


def component_sizes(components: DataFrame) -> DataFrame:
    """Per-component voxel counts (for island-size filtering)."""
    return components.groupBy("label", "comp").agg(F.count("*").alias("n_voxels"))


#: Edge-count bound for the driver-local union-find fast path (r13).
#: The gate is one ``limit(threshold + 1)`` collect of the materialized
#: canonical edge set, and the union-find runs on exactly those rows;
#: at or below it the whole star fixpoint — 2 shuffles, 2
#: materializations and 2 blocking driver actions PER ROUND — collapses
#: to that collect + an in-memory union-find + one broadcast map-back
#: join.  2^20 canonical edges is ~16 MB driver-side (trivial); 100 TB
#: near-dup graphs (billions of edges) keep the distributed fixpoint.
LOCAL_EDGES_THRESHOLD = 1 << 20


def _cc_local_mapping(spark, rows, dtype) -> DataFrame:
    """Driver-local union-find over (small, already-distinct) collected
    ``(u, v)`` edge rows of type ``dtype``; returns the (id, comp)
    mapping for every node APPEARING in an edge, comp = minimum member.
    Exact twin of the star fixpoint's converged forest: union-by-min
    keeps each tree's root at the component minimum (Python's str
    ordering is codepoint order = Spark's UTF8 binary order, so min
    semantics agree for string ids too)."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    schema = T.StructType(
        [T.StructField("id", dtype, False), T.StructField("comp", dtype, False)]
    )
    return spark.createDataFrame([(x, find(x)) for x in parent], schema)


def connected_components_edges(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 64,
    algorithm: str = "star",
    local_threshold: int = LOCAL_EDGES_THRESHOLD,
) -> DataFrame:
    """Generic connected components on an undirected edge list.

    Returns (id, comp) with ``comp`` = the minimum member id of the
    component.  This is the clustering primitive behind near-duplicate
    *groups*: feed it the pair output of MinHash/Jaccard dedup and
    every transitive family of near-dups collapses to one cluster id.

    Two algorithms, identical output:

    * ``"star"`` (default) — alternating **large-star / small-star**
      (Kiveris et al., "Connected Components in MapReduce and
      Beyond"): each round rewires every node toward the minimum of
      its closed neighborhood, halving the component's pointer depth —
      O(log n) rounds on ANY graph, including the pathological long
      chain where min-label propagation needs O(diameter) rounds.
      Each round is two groupBy+join passes over the (shrinking)
      oriented edge set.
    * ``"minlabel"`` — the synchronous min-propagation fixpoint
      (rounds = component diameter).  Kept as the independently-
      derived twin the star variant is property-tested against; fine
      for dup families (tiny diameters), wrong for adversarial
      chains.
    """
    verts = vertices.select(F.col(id_col).alias("id"))
    if algorithm == "minlabel":
        return _cc_minlabel(verts, edges, src_col, dst_col, max_iters)
    if algorithm != "star":
        raise ValueError(f"algorithm must be 'star' or 'minlabel', got {algorithm!r}")

    # canonical orientation (u > v), self-loops dropped; the one
    # materialization of the pair input, shared by the gate and the
    # star loop
    raw = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    e = (
        raw.filter(F.col("s") != F.col("d"))
        .select(
            F.greatest("s", "d").alias("u"), F.least("s", "d").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    head = e.limit(local_threshold + 1).collect()
    if len(head) <= local_threshold:
        # small edge set: those rows ARE the edge set, so the union-find
        # runs driver-local on them and the node→comp map broadcasts
        # back onto the vertices.  Identical output to the fixpoint
        # (pytest-pinned against both algorithms); ``local_threshold=0``
        # forces the distributed loop on any graph with an edge.
        mapped = _cc_local_mapping(
            e.sparkSession, head, e.schema["u"].dataType
        )
        return verts.join(F.broadcast(mapped), "id", "left").select(
            "id", F.coalesce("comp", F.col("id")).alias("comp")
        )

    def _edge_sig(df: DataFrame) -> tuple:
        # (cardinality, order-free hash-sum): one cheap aggregate job
        # over a checkpointed distinct set.  Signature INequality proves
        # the edge set changed; equality is only a trigger for the
        # exceptAll proof below — never trusted as convergence itself.
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: sum(int64 hashes) overflows LONG
            # under ANSI; DECIMAL(20,0)→sum DECIMAL(30,0) is exact to
            # 10^10 edges
            F.sum(F.xxhash64("u", "v").cast("decimal(20,0)")).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    sig_e = _edge_sig(e)
    converged = False
    for _ in range(max_iters):
        # large-star: every neighbor LARGER than u links to the min of
        # u's closed neighborhood — long tails collapse geometrically
        sym = e.unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # cache(), not localCheckpoint: `large` has two consumers in
        # THIS round (mins2 + the join) but never crosses rounds, so a
        # lazy cache avoids the eager checkpoint's extra materialization
        # job; `small` below does cross rounds (it becomes `e`) and
        # keeps the checkpoint to truncate lineage at the round boundary
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
            .cache()
        )
        # small-star: neighbors ≤ u (and u itself) link to that min;
        # output stays (u > v)-oriented because m ≤ v < u throughout
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        large.unpersist()
        # fixpoint = consecutive edge sets equal.  Both are distinct
        # checkpointed sets, so a (count, hash-sum) signature mismatch
        # already proves inequality for one aggregate job; the two-way
        # exceptAll (two extra full passes over the edge set) runs only
        # when signatures collide — i.e. at the fixpoint, plus a
        # vanishing 2^-64-ish false-trigger rate that costs one extra
        # probe, never a wrong answer.
        sig_s = _edge_sig(small)
        converged = sig_s == sig_e and (
            small.exceptAll(e).unionAll(e.exceptAll(small)).isEmpty()
        )
        e, sig_e = small, sig_s
        if converged:
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_edges did not converge in {max_iters} "
            "rounds - raise max_iters"
        )
    # converged star forest: every non-root u points at its root.
    # localCheckpoint preserves the minlabel contract (consumers see a
    # materialized leaf, not this fixpoint's groupBy lineage — their
    # residual plans stay one-exchange and AQE sees the true size).
    mapped = e.groupBy("u").agg(F.min("v").alias("comp")).select(
        F.col("u").alias("id"), "comp"
    )
    return (
        verts.join(mapped, "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
        .localCheckpoint(eager=True)
    )


def _cc_minlabel(
    verts: DataFrame,
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_iters: int,
) -> DataFrame:
    comp = verts.select("id", F.col("id").alias("comp")).localCheckpoint(
        eager=True
    )
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iters):
        neigh = (
            und.join(comp, und["b"] == comp["id"])
            .select(F.col("a").alias("id"), "comp")
        )
        merged = (
            comp.unionByName(neigh)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            merged.alias("m")
            .join(comp.alias("c"), "id")
            .filter(F.col("m.comp") != F.col("c.comp"))
            .limit(1)
            .count()
        )
        comp = merged
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_edges did not converge in {max_iters} "
            "rounds (graph diameter exceeds max_iters) - raise max_iters"
        )
    return comp


#: phase-1 rows of :func:`connected_components_chunks`: each chunk's
#: labels + provisional comps ('chunk'/'core'), and its three
#: positive-direction boundary strips ('strip', keyed by the receiver)
_CCL_HALO_SCHEMA = (
    "kind string, cz int, cy int, cx int, z0 long, y0 long, x0 long, "
    "dz int, dy int, dx int, side string, labels binary, comps binary"
)


def _local_ccl(block: "np.ndarray", origin, shape) -> "np.ndarray":
    """Min-linear-index propagation inside one chunk: the int64
    provisional component id of every voxel."""
    import numpy as np

    z0, y0, x0 = origin
    _, ydim, xdim = shape
    dz, dy, dx = block.shape
    zz, yy, xx = np.meshgrid(
        np.arange(z0, z0 + dz, dtype=np.int64),
        np.arange(y0, y0 + dy, dtype=np.int64),
        np.arange(x0, x0 + dx, dtype=np.int64),
        indexing="ij",
    )
    comp = zz * ydim * xdim + yy * xdim + xx  # int64 provisional ids
    for _ in range(dz + dy + dx + 1):
        prev = comp
        comp = comp.copy()
        # six directional min-relaxations where labels match
        same = block[1:] == block[:-1]
        np.minimum(comp[1:], np.where(same, comp[:-1], comp[1:]), out=comp[1:])
        np.minimum(comp[:-1], np.where(same, comp[1:], comp[:-1]), out=comp[:-1])
        same = block[:, 1:] == block[:, :-1]
        np.minimum(comp[:, 1:], np.where(same, comp[:, :-1], comp[:, 1:]), out=comp[:, 1:])
        np.minimum(comp[:, :-1], np.where(same, comp[:, 1:], comp[:, :-1]), out=comp[:, :-1])
        same = block[:, :, 1:] == block[:, :, :-1]
        np.minimum(comp[:, :, 1:], np.where(same, comp[:, :, :-1], comp[:, :, 1:]), out=comp[:, :, 1:])
        np.minimum(comp[:, :, :-1], np.where(same, comp[:, :, 1:], comp[:, :, :-1]), out=comp[:, :, :-1])
        if np.array_equal(comp, prev):
            break
    return comp


def _ccl_local_kernel(shape):
    """Phase-1 ``mapInArrow`` kernel of :func:`connected_components_chunks`
    (CHUNK_SCHEMA in, ``_CCL_HALO_SCHEMA`` out), flushed by
    ``CHUNK_FLUSH_BYTES``: 12 B/voxel of label + comp payloads."""
    from ..volume import _iter_chunks, emit_kernel

    def rows(batches):
        for _vid, (cz, cy, cx), origin, block in _iter_chunks(batches):
            comp = _local_ccl(block, origin, shape)
            lab = block.tobytes()
            cmp_ = comp.tobytes()
            yield ("chunk", cz, cy, cx, *origin, *block.shape, "core", lab, cmp_), (
                len(lab) + len(cmp_)
            )
            # positive-direction high faces -> the adjacent chunk,
            # named for the receiver side they abut
            for face_lab, face_comp, (tz, ty, tx), side in (
                (block[-1:], comp[-1:], (cz + 1, cy, cx), "zlo"),
                (block[:, -1:], comp[:, -1:], (cz, cy + 1, cx), "ylo"),
                (block[:, :, -1:], comp[:, :, -1:], (cz, cy, cx + 1), "xlo"),
            ):
                fl, fc = face_lab.tobytes(), face_comp.tobytes()
                yield ("strip", tz, ty, tx, *origin, *face_lab.shape, side, fl, fc), (
                    len(fl) + len(fc)
                )

    return emit_kernel(rows, _CCL_HALO_SCHEMA)


def connected_components_chunks(
    chunks: DataFrame,
    shape: tuple[int, int, int],
    max_iters: int = 64,
) -> DataFrame:
    """Connected-component labeling on the chunk-packed path — the
    scalable two-level form of :func:`connected_components`:

    1. **Local phase** (narrow ``mapInArrow``): each chunk labels its
       own components by vectorized min-linear-index propagation
       (bounded by the chunk perimeter, all NumPy), and emits its
       three POSITIVE-direction boundary strips (label + provisional
       comp per face voxel) addressed to the adjacent chunk.
    2. **Equivalence phase** (one hash exchange): every chunk pairs the
       received strips against its own low faces — equal labels across
       the face yield (comp_a, comp_b) equivalence edges.  The edge set
       is per-face component contacts: a GRAPH, orders of magnitude
       smaller than the voxel volume.
    3. **Global merge**: :func:`connected_components_edges` (the
       distributed min-label fixpoint) runs on that small graph, so the
       iterative part of the algorithm never touches voxels again; the
       root mapping broadcasts back as a vectorized LUT pass over the
       comp payloads.

    Semantics identical to the COO operator: ``comp`` = min linear
    index ``z·Y·X + y·X + x`` over the component, 6-connectivity,
    components never cross label boundaries.  Returns COO rows
    ``(z, y, x, label, comp)``.

    Provisional ids are carried in int64 payloads (8 B/voxel,
    TRANSIENT — they exist only between the local phase and the root
    remap), so the addressable space is 2^63 linear indices: the 100 TB
    design point (~2.6e13 voxels) fits with nine orders of headroom.
    The ALGORITHM is scale-safe throughout: phase 1 is narrow, phase 2
    exchanges faces only, phase 3 iterates on the contact graph.
    """
    import pyarrow as pa

    from ..volume import PAYLOAD_DTYPE

    zdim, ydim, xdim = shape
    if zdim * ydim * xdim >= 2**63:
        raise ValueError("volume exceeds 2^63 addressable linear indices")

    # phase 1 output is consumed twice (comp volume + pair extraction):
    # checkpoint so the local CCL runs once
    local = (
        chunks.mapInArrow(_ccl_local_kernel(shape), schema=_CCL_HALO_SCHEMA)
        .localCheckpoint(eager=True)
    )
    comp_chunks = local.filter(F.col("kind") == "chunk")

    def pairs_kernel(batches):
        import numpy as np

        for batch in batches:
            d = batch.to_pydict()
            # buffer rows of each chunk key (sorted: 'chunk' < 'strip')
            by_key: dict = {}
            for i in range(len(d["cz"])):
                k = (d["cz"][i], d["cy"][i], d["cx"][i])
                by_key.setdefault(k, []).append(i)
            a_out, b_out = [], []
            for k, idxs in by_key.items():
                core = next((i for i in idxs if d["kind"][i] == "chunk"), None)
                if core is None:
                    continue
                dz, dy, dx = d["dz"][core], d["dy"][core], d["dx"][core]
                lab = np.frombuffer(d["labels"][core], dtype=PAYLOAD_DTYPE).reshape(dz, dy, dx)
                cmp_ = np.frombuffer(d["comps"][core], dtype=np.int64).reshape(dz, dy, dx)
                faces = {
                    "zlo": (lab[:1], cmp_[:1]),
                    "ylo": (lab[:, :1], cmp_[:, :1]),
                    "xlo": (lab[:, :, :1], cmp_[:, :, :1]),
                }
                for i in idxs:
                    if d["kind"][i] != "strip":
                        continue
                    side = d["side"][i]
                    fdz, fdy, fdx = d["dz"][i], d["dy"][i], d["dx"][i]
                    slab = np.frombuffer(d["labels"][i], dtype=PAYLOAD_DTYPE).reshape(fdz, fdy, fdx)
                    scmp = np.frombuffer(d["comps"][i], dtype=np.int64).reshape(fdz, fdy, fdx)
                    mine_lab, mine_cmp = faces[side]
                    if slab.shape != mine_lab.shape:
                        continue  # ragged volume edge
                    eq = slab == mine_lab
                    if eq.any():
                        a_out.append(scmp[eq].astype(np.int64))
                        b_out.append(mine_cmp[eq].astype(np.int64))
            if a_out:
                a = np.concatenate(a_out)
                b = np.concatenate(b_out)
                uniq = np.unique(np.stack([a, b], axis=1), axis=0)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(uniq[:, 0]), pa.array(uniq[:, 1])],
                    ["src", "dst"],
                )

    exchanged = local.repartition("cz", "cy", "cx")
    pairs = exchanged.mapInArrow(pairs_kernel, schema="src long, dst long").distinct()

    verts = (
        pairs.select(F.col("src").alias("id"))
        .unionByName(pairs.select(F.col("dst").alias("id")))
        .distinct()
    )
    roots = connected_components_edges(verts, pairs, max_iters=max_iters)

    def unpack_kernel(batches):
        import numpy as np

        for batch in batches:
            d = batch.to_pydict()
            for i in range(len(d["cz"])):
                dz, dy, dx = d["dz"][i], d["dy"][i], d["dx"][i]
                z0, y0, x0 = d["z0"][i], d["y0"][i], d["x0"][i]
                lab = np.frombuffer(d["labels"][i], dtype=PAYLOAD_DTYPE).reshape(-1)
                cmp_ = np.frombuffer(d["comps"][i], dtype=np.int64)
                zz, yy, xx = np.meshgrid(
                    np.arange(z0, z0 + dz, dtype=np.int64),
                    np.arange(y0, y0 + dy, dtype=np.int64),
                    np.arange(x0, x0 + dx, dtype=np.int64),
                    indexing="ij",
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(zz.ravel()),
                        pa.array(yy.ravel()),
                        pa.array(xx.ravel()),
                        pa.array(lab.astype(np.int64)),
                        pa.array(cmp_),
                    ],
                    ["z", "y", "x", "label", "comp"],
                )

    # Root remap as a JOIN, not a driver-side dict: only boundary-
    # contacting components appear in ``roots`` (usually tiny → AQE
    # turns this into a broadcast hash join and the volume side stays
    # narrow), but an adversarial volume — label stripes aligned to
    # chunk faces — makes it O(face voxels), and a collected dict in
    # the kernel closure would then be driver-OOM territory at 100 TB.
    # The join degrades to a shuffle instead, which merely costs an
    # exchange.  Below the union-find gate ``roots`` is a broadcast join
    # of a driver-built map; above it the fixpoint localCheckpoints it,
    # so AQE sees its true size when choosing the strategy.
    coo = comp_chunks.mapInArrow(
        unpack_kernel, schema="z long, y long, x long, label long, comp long"
    )
    remap = roots.select(
        F.col("id").alias("comp"), F.col("comp").alias("root")
    )
    return (
        coo.join(remap, "comp", "left")
        .select(
            "z", "y", "x", "label",
            F.coalesce("root", "comp").alias("comp"),
        )
    )
