"""The three workloads.  Each is a closed loop with one client: the next
operation starts when the previous one has returned, because the
reference's users wait on each result.

A workload object has

* ``setup(spark)``  — generate the seeded inputs and build its stores;
* ``warm(spark)``   — the untimed warm pass, part of set-up;
* ``op(spark, i)``  — one operation; returns ``(steps, output)`` where
  ``steps`` maps step name → seconds (the timed part only);
* ``check(output)`` — verify one operation's output outside the timed
  region (``corpus_prep`` also takes its oracle); returns a list of
  problems (empty = correct);
* ``layers(...)``   — the per-layer numbers of a traced run;
* ``summary(...)``  — derived figures for the report line.

Only the package's public functions are called on the measured path.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.measure import median

#: reference-shaped but smaller: the (456, 320, 528) reference volume's
#: ×2 export takes ~19 s per pass on a 4-core host, and a run (JVM start,
#: set-up, warm pass, measured loop) must stay near 40 s
VOLUME_SHAPE = (128, 160, 176)
SOURCE_CHUNK = (16, 64, 64)
SHARD = (2, 2, 2)
SCALE = 2
DELTA_FRAC = 0.02

LOOKUP_HOT_FRAC = 0.5
LOOKUP_HOT_CHUNKS = 4

CORPUS_DOCS = 5_000
CORPUS_VECS = 2_000
CORPUS_DIM = 128
#: ``dedup.recall`` floor against the seeded duplicate pairs
RECALL_FLOOR = 0.9


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def force(df) -> None:
    """Run a lazy frame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _disk_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    #: False during set-up and the warm pass, whose Spark jobs are then
    #: kept apart from the measured operations' in the event log
    measuring = False
    spans = None
    #: a run measures at least this many operations, so that the op
    #: count (and with it the medians) does not flip with small timing
    #: changes around the end of the window
    min_ops = 1

    def warm(self, spark) -> None:
        """One untimed operation on the real inputs: the first pays JIT,
        Python-worker start-up and code generation."""
        self.op(spark, -1)

    def group(self, spark, name: str) -> None:
        name = name if self.measuring else "setup:" + name
        spark.sparkContext.setJobGroup(name, name)

    def step(self, spark, name: str, fn):
        """Run one timed call under its own job group (and span, when
        tracing); returns (seconds, result)."""
        self.group(spark, name)
        if self.spans is None:
            return timed(fn)
        with self.spans.span(name):
            return timed(fn)


# ---------------------------------------------------------------------------


class VolumeExport(Workload):
    """upscale ×2 → level-1 decimation → sharded two-level Zarr v3, then a
    scan of level 0 and an in-place delta update."""

    steps = ("export", "scan", "update")
    min_ops = 2

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.store = os.path.join(work, "store.zarr")

    def setup(self, spark) -> dict:
        t, vol = timed(lambda: gen.label_volume(self.seed, VOLUME_SHAPE, SOURCE_CHUNK))
        self.vol = vol
        self.updated, self.changed = gen.delta_chunks(vol, self.seed, DELTA_FRAC)
        _write_chunk_parquet(vol, os.path.join(self.work, "src"))
        delta = gen.chunk_table(self.updated)
        keep = [
            k in set(self.changed)
            for k in zip(*(delta[c].to_pylist() for c in ("cz", "cy", "cx")))
        ]
        pq.write_table(delta.filter(pa.array(keep)), os.path.join(self.work, "delta.parquet"))
        self.src = spark.read.parquet(os.path.join(self.work, "src"))
        self.delta = spark.read.parquet(os.path.join(self.work, "delta.parquet"))
        self.gen_s = t
        return {
            "shape": VOLUME_SHAPE,
            "chunk": SOURCE_CHUNK,
            "source_mb": vol.labels.nbytes / 1e6,
            "background_frac": round(vol.zero_frac, 4),
            "zero_chunk_frac": round(vol.zero_chunk_frac(), 4),
            "delta_chunks": len(self.changed),
        }

    def op(self, spark, i: int):
        from pyspark.sql import functions as F

        from atlas_upscaling_dask_spark.operators.pyramid import decimate_chunks
        from atlas_upscaling_dask_spark.operators.upscale import upscale_chunks
        from atlas_upscaling_dask_spark.sinks.zarr3 import scan_zarr3, update_zarr3, write_zarr3
        from atlas_upscaling_dask_spark.volume import VolumeMeta

        meta = VolumeMeta(*(n * SCALE for n in VOLUME_SHAPE))
        level0 = upscale_chunks(self.src, SCALE)
        level1 = decimate_chunks(level0, 2)
        frame = level0.withColumn("level", F.lit(0)).unionByName(
            level1.withColumn("level", F.lit(1))
        )
        steps = {}
        if self.spans is not None:
            # each lazy layer forced alone, so the composed spans can be
            # split into per-layer self time
            for name, df in (("upscale", level0), ("pyramid", level1), ("compose", frame)):
                self.step(spark, name, lambda: force(df))
        steps["export"], written = self.step(
            spark, "export", lambda: write_zarr3(frame, self.store, meta, shard=SHARD)
        )
        steps["scan"], _ = self.step(
            spark, "scan", lambda: force(scan_zarr3(spark, self.store, 0))
        )
        steps["update"], updated = self.step(
            spark, "update", lambda: update_zarr3(upscale_chunks(self.delta, SCALE), self.store, 0)
        )
        self.group(spark, "check")
        return steps, (written, updated, self._sample(spark, i))

    def _sample(self, spark, i: int):
        """Scanned-back level-0 chunks for a seeded sample of keys (the
        changed ones included)."""
        from pyspark.sql import functions as F

        from atlas_upscaling_dask_spark.sinks.zarr3 import scan_zarr3

        g = gen.rng(self.seed * 1000 + i, "sample")
        keys = [k for k, _ in self.vol.chunk_origins()]
        picked = {keys[j] for j in g.choice(len(keys), size=6, replace=False)}
        picked |= set(self.changed)
        cond = None
        for cz, cy, cx in picked:
            c = (F.col("cz") == cz) & (F.col("cy") == cy) & (F.col("cx") == cx)
            cond = c if cond is None else cond | c
        return scan_zarr3(spark, self.store, 0).filter(cond).collect()

    def _expected_receipt(self, vol: gen.Volume) -> dict:
        nonzero = {
            k for k, (z0, y0, x0) in vol.chunk_origins()
            if vol.labels[z0:z0 + SOURCE_CHUNK[0], y0:y0 + SOURCE_CHUNK[1], x0:x0 + SOURCE_CHUNK[2]].any()
        }
        total = sum(1 for _ in vol.chunk_origins())
        shards = {tuple(c // s for c, s in zip(k, SHARD)) for k in nonzero}
        return {"n_objects": len(shards), "n_chunks": len(nonzero), "n_skipped": total - len(nonzero)}

    def check(self, output) -> list[str]:
        written, updated, sample = output
        problems = []
        want = self._expected_receipt(self.vol)
        for level in (0, 1):
            got = {k: written.get(level, {}).get(k) for k in want}
            if got != want:
                problems.append(f"write_zarr3 level {level} receipt {got} != {want}")
        shards = {tuple(c // s for c, s in zip(k, SHARD)) for k in self.changed}
        want_u = {"n_shards": len(shards), "n_chunks": len(self.changed), "n_dropped": 0}
        if updated != want_u:
            problems.append(f"update_zarr3 receipt {updated} != {want_u}")
        ref = self.updated.labels
        for r in sample:
            z0, y0, x0, dz, dy, dx = (r[c] for c in ("z0", "y0", "x0", "dz", "dy", "dx"))
            got = np.frombuffer(r["payload"], dtype="<u4").reshape(dz, dy, dx)
            src = ref[z0 // SCALE:(z0 + dz) // SCALE, y0 // SCALE:(y0 + dy) // SCALE,
                      x0 // SCALE:(x0 + dx) // SCALE]
            want_block = src.repeat(SCALE, 0).repeat(SCALE, 1).repeat(SCALE, 2)
            if r["codec"] != "raw" or not np.array_equal(got, want_block):
                problems.append(f"scanned chunk {(r['cz'], r['cy'], r['cx'])} differs")
        if len(sample) < len(self.changed):
            problems.append(f"scan returned {len(sample)} sampled chunks")
        return problems

    def layers(self, spans, groups, outputs) -> dict:
        written, updated, _ = outputs[-1]
        per = lambda name: median(spans.durations(name))  # noqa: E731
        up = groups.get("upscale", {})
        n = len(spans.durations("upscale"))
        changed_shards = {tuple(c // s for c, s in zip(k, SHARD)) for k in self.changed}
        return {
            "volume.gen_s": self.gen_s,
            "volume.chunks": sum(1 for _ in self.vol.chunk_origins()),
            "volume.zero_chunk_frac": self.vol.zero_chunk_frac(),
            "upscale.busy_s": per("upscale"),
            "upscale.python_s": up.get("acc:time to run Python workers", 0) / 1e3 / n,
            "upscale.to_python_bytes": up.get("acc:data sent to Python workers", 0) / n,
            "upscale.from_python_bytes": up.get("acc:data returned from Python workers", 0) / n,
            "pyramid.busy_s": per("pyramid") - per("upscale"),
            "zarr3.write_s": per("export") - per("compose"),
            "zarr3.objects_written": sum(w["n_objects"] for w in written.values()),
            "zarr3.bytes_written": sum(w["n_bytes"] for w in written.values()),
            "zarr3.chunks_skipped": sum(w["n_skipped"] for w in written.values()),
            "zarr3.scan_s": per("scan"),
            "zarr3.update_s": per("update"),
            "zarr3.shards_rewritten": updated["n_shards"],
            "zarr3.update_bytes_written": sum(
                os.path.getsize(os.path.join(self.store, "0", "c", *map(str, s)))
                for s in changed_shards
            ),
        }

    def summary(self, outputs) -> dict:
        written = outputs[-1][0]
        logical = self.vol.labels.nbytes * (SCALE**3 + 1)
        return {
            "logical_output_bytes": logical,
            "stored_bytes_ratio": sum(w["n_bytes"] for w in written.values()) / logical,
        }


def _write_chunk_parquet(vol: gen.Volume, path: str) -> None:
    """One parquet file per z-slab of chunks, so the scan has one input
    split per slab."""
    import pyarrow.compute as pc

    table = gen.chunk_table(vol)
    os.makedirs(path, exist_ok=True)
    for cz in sorted(set(table["cz"].to_pylist())):
        pq.write_table(table.filter(pc.equal(table["cz"], cz)), os.path.join(path, f"slab{cz:03d}.parquet"))


# ---------------------------------------------------------------------------


class AtlasLookup(Workload):
    """Interactive voxel→region lookups against a cz-partitioned store."""

    steps = ("point", "upscaled", "ontology")
    min_ops = 20  # two blocks of the query mix

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.store = os.path.join(work, "volume.parquet")
        self.plan_s: list[float] = []
        self.exec_s: list[float] = []
        self.rows: list[int] = []

    def setup(self, spark) -> dict:
        from atlas_upscaling_dask_spark.operators.relational import synthetic_regions
        from atlas_upscaling_dask_spark.sinks.writer import write_volume
        from atlas_upscaling_dask_spark.volume import VolumeMeta

        t, vol = timed(lambda: gen.label_volume(self.seed, VOLUME_SHAPE, SOURCE_CHUNK))
        self.vol, self.gen_s = vol, t
        _write_chunk_parquet(vol, os.path.join(self.work, "src"))
        self.group(spark, "writer")
        self.write_s, _ = timed(
            lambda: write_volume(
                spark.read.parquet(os.path.join(self.work, "src")),
                self.store,
                VolumeMeta(*VOLUME_SHAPE),
            )
        )
        self.chunks = spark.read.parquet(self.store)
        self.regions = synthetic_regions(spark).cache()
        self.regions.count()
        # a long seeded list; a run consumes a prefix of it
        self.queries = gen.lookup_queries(
            self.seed, vol, 5000, LOOKUP_HOT_FRAC, LOOKUP_HOT_CHUNKS
        )
        warm = gen.lookup_queries(self.seed + 1, vol, 200, LOOKUP_HOT_FRAC, LOOKUP_HOT_CHUNKS)
        self.warm_queries = [next(q for q in warm if q[0] == kind) for kind in self.steps] * 2
        return {
            "shape": VOLUME_SHAPE,
            "chunk": SOURCE_CHUNK,
            "background_frac": round(vol.zero_frac, 4),
            "hot_frac": LOOKUP_HOT_FRAC,
            "hot_chunks": LOOKUP_HOT_CHUNKS,
            "mix": "80% point+decode, 10% x2 point, 10% ontology",
        }

    def warm(self, spark) -> None:
        for q in self.warm_queries:
            self.run(spark, q)

    def _query(self, spark, q):
        from pyspark.sql import functions as F

        from atlas_upscaling_dask_spark.operators import relational as R
        from atlas_upscaling_dask_spark.operators.upscale import point_lookup_upscaled
        from atlas_upscaling_dask_spark.volume import chunks_to_voxels

        kind = q[0]
        if kind == "point":
            return [R.decode_labels(R.point_lookup_chunks(self.chunks, *q[1:]), self.regions)]
        if kind == "upscaled":
            z, y, x = q[1:]
            # the source chunk holding (z, y, x) // 2, exploded to voxels
            c = [v // SCALE // k for v, k in zip((z, y, x), SOURCE_CHUNK)]
            src = self.chunks.filter(
                (F.col("cz") == c[0]) & (F.col("cy") == c[1]) & (F.col("cx") == c[2])
            )
            return [
                R.decode_labels(
                    point_lookup_upscaled(chunks_to_voxels(src), SCALE, z, y, x), self.regions
                )
            ]
        return [
            R.region_filter(self.regions, q[1]),
            R.ancestor_closure(self.regions).filter(F.col("region") == q[1]),
        ]

    def run(self, spark, q):
        t0 = time.perf_counter()
        frames = self._query(spark, q)
        for df in frames:
            df._jdf.queryExecution().executedPlan()
        t1 = time.perf_counter()
        rows = [df.collect() for df in frames]
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, rows

    def op(self, spark, i: int):
        q = self.queries[i]
        self.group(spark, "lookup")
        if self.spans is not None:
            with self.spans.span(q[0]):
                plan, exe, rows = self.run(spark, q)
        else:
            plan, exe, rows = self.run(spark, q)
        self.plan_s.append(plan)
        self.exec_s.append(exe)
        self.rows.append(sum(len(r) for r in rows))
        return {q[0]: plan + exe}, (q, rows)

    def check(self, output) -> list[str]:
        q, rows = output
        if q[0] == "ontology":
            region = q[1]
            filt, anc = rows
            want_anc = {(region, 15540 + region % 4, 1), (region, 15500, 2)}
            got_anc = {(r["region"], r["ancestor"], r["depth"]) for r in anc}
            if [r["region_name"] for r in filt] != [f"region {region}"] or got_anc != want_anc:
                return [f"ontology query for {region} wrong"]
            return []
        z, y, x = q[1:]
        s = SCALE if q[0] == "upscaled" else 1
        label = int(self.vol.labels[z // s, y // s, x // s])
        name = f"region {label}" if label else "Unknown"
        got = [(r["z"], r["y"], r["x"], r["label"], r["region_name"]) for r in rows[0]]
        if got != [(z, y, x, label, name)]:
            return [f"{q} returned {got}, expected label {label} ({name})"]
        return []

    def layers(self, spans, groups, outputs) -> dict:
        g = groups.get("lookup", {})
        n = len(outputs)
        return {
            "writer.write_s": self.write_s,
            "writer.bytes_on_disk": _disk_bytes(self.store),
            "lookup.plan_ms": median(self.plan_s) * 1e3,
            "lookup.exec_ms": median(self.exec_s) * 1e3,
            "lookup.jobs": g.get("jobs", 0) / n,
            "lookup.tasks": g.get("tasks", 0) / n,
            "lookup.files_read": g.get("acc:number of files read", 0) / n,
            "lookup.bytes_read": g.get("input_bytes", 0) / n,
            "lookup.rows_scanned_per_hit": g.get("input_records", 0) / max(1, sum(self.rows)),
            "volume.gen_s": self.gen_s,
            "volume.chunks": sum(1 for _ in self.vol.chunk_origins()),
            "volume.zero_chunk_frac": self.vol.zero_chunk_frac(),
        }

    def summary(self, outputs) -> dict:
        return {"store_bytes_ratio": _disk_bytes(self.store) / self.vol.labels.nbytes}


# ---------------------------------------------------------------------------


class CorpusPrep(Workload):
    """Training-set assembly, MinHash near-dup clustering and semantic
    dedup over a seeded corpus.  Each call uses the parameters of the
    query registered for it in ``suite.py``, so its DuckDB oracle applies."""

    steps = ("prepare", "dedup", "similarity")

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def setup(self, spark) -> dict:
        self.corpus = gen.corpus(self.seed, CORPUS_DOCS)
        emb, dup_frac = gen.embeddings(self.seed, CORPUS_VECS, dim=CORPUS_DIM)
        self.emb_table = emb
        pq.write_table(self.corpus.docs, os.path.join(self.work, "documents.parquet"))
        pq.write_table(emb, os.path.join(self.work, "embeddings.parquet"))
        self.docs = spark.read.parquet(os.path.join(self.work, "documents.parquet"))
        self.emb = spark.read.parquet(os.path.join(self.work, "embeddings.parquet"))
        self.truth = gen.seeded_dup_pairs(self.corpus)
        return {
            "docs": CORPUS_DOCS,
            "exact_dup_frac": self.corpus.exact_dup_frac,
            "near_dup_frac": self.corpus.near_dup_frac,
            "near_dup_edits": self.corpus.edits,
            "eval_frac": 0.02,
            "vectors": CORPUS_VECS,
            "vector_dim": CORPUS_DIM,
            "vector_near_dup_frac": dup_frac,
            "text_mb": round(sum(len(t) for t in self.corpus.docs["text"].to_pylist()) / 1e6, 2),
            # the 2^20-edge driver-side union-find gate in near_dup_clusters
            # and the 256 MB BPE gate: this corpus is below both
            "seeded_dup_pairs": len(self.truth),
        }

    def op(self, spark, i: int):
        from pyspark.sql import functions as F

        from atlas_upscaling_dask_spark.extensions.dedup import minhash_lsh_pairs, near_dup_clusters
        from atlas_upscaling_dask_spark.extensions.pipeline import prepare_training_set
        from atlas_upscaling_dask_spark.extensions.similarity import semantic_dedup

        docs = self.docs
        steps, out = {}, {}

        def prepare():
            bench = docs.filter(F.col("doc_id") % 50 == 0)
            return prepare_training_set(docs, benchmark=bench, seed=7).collect()

        def dedup():
            pair_df = minhash_lsh_pairs(docs, use_dictionary=True).cache()
            try:
                return pair_df.collect(), near_dup_clusters(docs, pair_df).collect()
            finally:
                pair_df.unpersist()

        def similarity():
            return semantic_dedup(self.emb, threshold=0.3, n_centroids=16, backend="gemm").collect()

        for name, fn in (("prepare", prepare), ("dedup", dedup), ("similarity", similarity)):
            steps[name], out[name] = self.step(spark, name, fn)
        return steps, out

    def oracle(self) -> dict[str, list]:
        """The registered DuckDB oracle SQL, run once on the generated
        inputs."""
        import duckdb

        from atlas_upscaling_dask_spark import suite

        con = duckdb.connect()
        con.register("documents", self.corpus.docs)
        con.register("embeddings", self.emb_table)
        out = {}
        for name in ("prepare_training_set", "dedup_minhash_lsh", "semantic_dedup"):
            cur = con.execute(suite.ORACLES[name])
            cols = [d[0] for d in cur.description]
            out[name] = _canon([dict(zip(cols, r)) for r in cur.fetchall()])
        con.close()
        return out

    def check(self, output, oracle) -> list[str]:
        problems = []
        pairs, clusters = output["dedup"]
        for name, rows in (
            ("prepare_training_set", output["prepare"]),
            ("dedup_minhash_lsh", pairs),
            ("semantic_dedup", output["similarity"]),
        ):
            got = _canon([r.asDict() for r in rows])
            if got != oracle[name]:
                problems.append(f"{name}: {len(got)} rows differ from the oracle's {len(oracle[name])}")
        want = _components(self.corpus.docs.num_rows, [(r["d1"], r["d2"]) for r in pairs])
        got = {(r["doc_id"], r["cluster_id"], r["is_keeper"]) for r in clusters}
        if got != want:
            problems.append("near_dup_clusters differs from union-find over the pairs")
        recall, _ = self._recall_precision(pairs)
        if recall < RECALL_FLOOR:
            problems.append(f"dedup recall {recall:.3f} < {RECALL_FLOOR}")
        return problems

    def _recall_precision(self, pairs) -> tuple[float, float]:
        found = {(min(r["d1"], r["d2"]), max(r["d1"], r["d2"])) for r in pairs}
        hit = len(found & self.truth)
        return hit / max(1, len(self.truth)), hit / max(1, len(found))

    def layers(self, spans, groups, outputs) -> dict:
        per = lambda name: median(spans.durations(name))  # noqa: E731
        pairs = outputs[-1]["dedup"][0]
        recall, precision = self._recall_precision(pairs)
        n = len(outputs)
        return {
            "pipeline.busy_s": per("prepare"),
            "pipeline.shuffle_write_bytes": groups.get("prepare", {}).get("shuffle_write_bytes", 0) / n,
            "pipeline.docs_kept_frac": len(outputs[-1]["prepare"]) / CORPUS_DOCS,
            "dedup.busy_s": per("dedup"),
            "dedup.pairs_found": len(pairs),
            "dedup.recall": recall,
            "dedup.precision": precision,
            "similarity.busy_s": per("similarity"),
            "similarity.python_s": groups.get("similarity", {}).get("acc:time to run Python workers", 0) / 1e3 / n,
        }

    def summary(self, outputs) -> dict:
        pairs = outputs[-1]["dedup"][0]
        recall, precision = self._recall_precision(pairs)
        return {
            "docs_kept": len(outputs[-1]["prepare"]),
            "minhash_pairs": len(pairs),
            "dedup_recall": round(recall, 4),
            "dedup_precision": round(precision, 4),
            "vectors_dropped": sum(not r["is_kept"] for r in outputs[-1]["similarity"]),
        }


def _canon(rows: list[dict]) -> list[tuple]:
    """Order-insensitive, type-insensitive form of a result: columns by
    name, integral numbers as int, rows sorted."""

    def norm(v):
        if isinstance(v, bool) or v is None or isinstance(v, str):
            return v
        if isinstance(v, (int, np.integer)):
            return int(v)
        f = float(v)
        return int(f) if f.is_integer() else f

    out = [tuple((k, norm(r[k])) for k in sorted(r)) for r in rows]
    return sorted(out, key=repr)


def _components(n: int, edges) -> set[tuple]:
    """(doc_id, min member, is_keeper) for every doc: the reference answer
    of ``near_dup_clusters``."""
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(d, find(d), find(d) == d) for d in range(n)}


WORKLOADS = {
    "volume_export": VolumeExport,
    "atlas_lookup": AtlasLookup,
    "corpus_prep": CorpusPrep,
}
