"""Seeded input generators.  Pure NumPy/pyarrow: no Spark, so the tests
can check them cheaply and the program only ever sees generated inputs.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` (see :func:`rng`), so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

#: labels are drawn from the leaf ids of ``synthetic_regions`` (74 leaves,
#: named ``region <id>``), so every generated label decodes to a name
REGION_IDS = np.arange(15564, 15564 + 74, dtype=np.uint32)

#: the 30-word vocabulary of the ``documents`` fixture table
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so resizing one input does not
    reshuffle another."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


# ---------------------------------------------------------------------------
# label volume (volume_export, atlas_lookup)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Volume:
    labels: np.ndarray  # (Z, Y, X) uint32, 0 = background
    chunk: tuple[int, int, int]

    @property
    def zero_frac(self) -> float:
        return float((self.labels == 0).mean())

    def chunk_origins(self):
        Z, Y, X = self.labels.shape
        dz, dy, dx = self.chunk
        for cz, z0 in enumerate(range(0, Z, dz)):
            for cy, y0 in enumerate(range(0, Y, dy)):
                for cx, x0 in enumerate(range(0, X, dx)):
                    yield (cz, cy, cx), (z0, y0, x0)

    def zero_chunk_frac(self) -> float:
        dz, dy, dx = self.chunk
        flags = [
            not self.labels[z0:z0 + dz, y0:y0 + dy, x0:x0 + dx].any()
            for _, (z0, y0, x0) in self.chunk_origins()
        ]
        return float(np.mean(flags))


def label_volume(
    seed: int, shape: tuple[int, int, int], chunk: tuple[int, int, int]
) -> Volume:
    """Piecewise-constant atlas-like label volume.

    Regions are the cells of a seeded irregular grid (cut positions drawn
    per axis), each labelled with a random region id.  An ellipsoid with
    seeded radii and centre keeps the brain; everything outside it is the
    zero background margin, so corner chunks are entirely zero.
    """
    g = rng(seed, "volume")
    axes = []
    for n in shape:
        cells = max(2, n // 12)
        cuts = np.sort(g.choice(np.arange(1, n), size=cells - 1, replace=False))
        axes.append(np.searchsorted(cuts, np.arange(n), side="right"))
    ncell = tuple(int(a.max()) + 1 for a in axes)
    coarse = g.choice(REGION_IDS, size=ncell)
    labels = coarse[np.ix_(*axes)].astype(np.uint32)

    radii = g.uniform(0.95, 1.10, size=3) * np.array(shape) / 2
    centre = np.array(shape) / 2 + g.uniform(-0.03, 0.03, size=3) * np.array(shape)
    zz, yy, xx = np.ogrid[: shape[0], : shape[1], : shape[2]]
    inside = (
        ((zz - centre[0]) / radii[0]) ** 2
        + ((yy - centre[1]) / radii[1]) ** 2
        + ((xx - centre[2]) / radii[2]) ** 2
    ) <= 1.0
    labels[~inside] = 0
    return Volume(labels, chunk)


CHUNK_COLUMNS = (
    ("volume_id", pa.string()),
    ("cz", pa.int32()),
    ("cy", pa.int32()),
    ("cx", pa.int32()),
    ("z0", pa.int64()),
    ("y0", pa.int64()),
    ("x0", pa.int64()),
    ("dz", pa.int32()),
    ("dy", pa.int32()),
    ("dx", pa.int32()),
    ("codec", pa.string()),
    ("payload", pa.binary()),
)


def chunk_table(vol: Volume, volume_id: str = "vol") -> pa.Table:
    """The volume in the package's chunk-packed layout (``CHUNK_SCHEMA``):
    one row per chunk, raw little-endian uint32 C-order payload."""
    cols: dict[str, list] = {name: [] for name, _ in CHUNK_COLUMNS}
    dz, dy, dx = vol.chunk
    for (cz, cy, cx), (z0, y0, x0) in vol.chunk_origins():
        block = vol.labels[z0:z0 + dz, y0:y0 + dy, x0:x0 + dx]
        row = (volume_id, cz, cy, cx, z0, y0, x0, *block.shape, "raw",
               np.ascontiguousarray(block, dtype="<u4").tobytes())
        for (name, _), v in zip(CHUNK_COLUMNS, row):
            cols[name].append(v)
    return pa.table(
        {name: pa.array(cols[name], type=t) for name, t in CHUNK_COLUMNS}
    )


def delta_chunks(vol: Volume, seed: int, frac: float):
    """A seeded in-place update: ``frac`` of the non-zero chunks get one
    region relabelled to another region id.  Returns the updated volume
    and the list of changed chunk keys."""
    g = rng(seed, "delta")
    dz, dy, dx = vol.chunk
    keys = [
        (key, org)
        for key, org in vol.chunk_origins()
        if vol.labels[org[0]:org[0] + dz, org[1]:org[1] + dy, org[2]:org[2] + dx].any()
    ]
    n = max(1, round(frac * len(keys)))
    pick = g.choice(len(keys), size=n, replace=False)
    labels = vol.labels.copy()
    changed = []
    for i in sorted(pick):
        key, (z0, y0, x0) = keys[i]
        block = labels[z0:z0 + dz, y0:y0 + dy, x0:x0 + dx]
        present = np.unique(block[block != 0])
        old = g.choice(present)
        new = g.choice(REGION_IDS[REGION_IDS != old])
        block[block == old] = new
        changed.append(key)
    return Volume(labels, vol.chunk), changed


# ---------------------------------------------------------------------------
# interactive lookups (atlas_lookup)
# ---------------------------------------------------------------------------


def lookup_queries(
    seed: int,
    vol: Volume,
    n: int,
    hot_frac: float,
    hot_chunks: int,
) -> list[tuple]:
    """Seeded query mix, in blocks of ten holding 8 point lookups + decode,
    1 point lookup in ×2 coordinates and 1 ontology query (region filter
    and ancestor closure) in seeded order.  ``hot_frac`` of the point
    coordinates fall in a set of ``hot_chunks`` chunks, the rest anywhere
    in the volume."""
    g = rng(seed, "lookups")
    shape = np.array(vol.labels.shape)
    chunk = np.array(vol.chunk)
    grid = -(-shape // chunk)
    hot = g.integers(0, grid, size=(hot_chunks, 3))
    present = np.unique(vol.labels[vol.labels != 0])
    block = ["point"] * 8 + ["upscaled", "ontology"]
    kinds = [k for _ in range(-(-n // len(block))) for k in g.permutation(block)][:n]
    out = []
    for kind in kinds:
        if kind == "ontology":
            out.append(("ontology", int(g.choice(present))))
            continue
        if g.random() < hot_frac:
            c = hot[g.integers(hot_chunks)]
            lo = c * chunk
            hi = np.minimum(lo + chunk, shape)
            zyx = g.integers(lo, hi)
        else:
            zyx = g.integers(0, shape)
        if kind == "point":
            out.append(("point", *map(int, zyx)))
        else:
            # a voxel of the x2 volume: any of the 8 children of zyx
            out.append(("upscaled", *map(int, zyx * 2 + g.integers(0, 2, size=3))))
    return out


# ---------------------------------------------------------------------------
# text corpus + embeddings (corpus_prep)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Corpus:
    docs: pa.Table  # doc_id, text, lang, source, n_chars
    families: np.ndarray  # doc_id -> seeded duplicate family (= its origin doc)
    exact_dup_frac: float
    near_dup_frac: float
    edits: int


def corpus(
    seed: int,
    n_docs: int,
    exact_dup_frac: float = 0.05,
    near_dup_frac: float = 0.05,
    edits: int = 2,
    n_sentences: int = 40_000,
) -> Corpus:
    """Documents recombined from a seeded sentence pool over the fixture
    vocabulary.  ``exact_dup_frac`` of the documents copy another one
    verbatim and ``near_dup_frac`` copy one with ``edits`` token
    substitutions.  Doc ids are a seeded permutation, so which documents
    form the ``doc_id % 50 == 0`` held-out eval set (2%) varies with the
    seed."""
    g = rng(seed, "corpus")
    vocab = np.array(VOCAB)
    lens = g.integers(6, 13, size=n_sentences)
    sentences = [" ".join(vocab[g.integers(0, len(vocab), size=k)]) for k in lens]
    n_exact = int(round(exact_dup_frac * n_docs))
    n_near = int(round(near_dup_frac * n_docs))
    n_orig = n_docs - n_exact - n_near
    texts = [
        " ".join(sentences[j] for j in g.integers(0, n_sentences, size=g.integers(3, 9)))
        for _ in range(n_orig)
    ]
    family = list(range(n_orig))
    for _ in range(n_exact):
        src = int(g.integers(n_orig))
        texts.append(texts[src])
        family.append(src)
    for _ in range(n_near):
        src = int(g.integers(n_orig))
        words = texts[src].split(" ")
        for pos in g.choice(len(words), size=min(edits, len(words)), replace=False):
            words[pos] = vocab[(vocab.tolist().index(words[pos]) + 1 + g.integers(len(vocab) - 1)) % len(vocab)]
        texts.append(" ".join(words))
        family.append(src)
    ids = g.permutation(n_docs).astype(np.int64)
    order = np.argsort(ids)
    texts = [texts[i] for i in order]
    fam_by_id = ids[np.array(family)[order]]  # family named by its origin's doc id
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(["en"] * n_docs, type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    return Corpus(docs, fam_by_id, exact_dup_frac, near_dup_frac, edits)


def seeded_dup_pairs(c: Corpus) -> set[tuple[int, int]]:
    """Every (d1 < d2) pair the generator made duplicates of each other:
    members of one family, origin included."""
    pairs = set()
    order = np.argsort(c.families, kind="stable")
    fam = c.families[order]
    starts = np.flatnonzero(np.r_[True, fam[1:] != fam[:-1]])
    for s, e in zip(starts, np.r_[starts[1:], len(fam)]):
        members = sorted(int(d) for d in order[s:e])
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                pairs.add((a, b))
    return pairs


def embeddings(
    seed: int, n_vecs: int, dim: int = 64, near_dup_frac: float = 0.05, noise: float = 0.02
) -> tuple[pa.Table, float]:
    """Unit-scale random vectors (the ``embeddings`` fixture's shape) of
    which ``near_dup_frac`` are another vector plus small noise."""
    g = rng(seed, "embeddings")
    n_dup = int(round(near_dup_frac * n_vecs))
    base = g.normal(0.0, 1.0 / np.sqrt(dim), size=(n_vecs - n_dup, dim))
    src = g.integers(0, n_vecs - n_dup, size=n_dup)
    dups = base[src] + g.normal(0.0, noise / np.sqrt(dim), size=(n_dup, dim))
    vecs = np.vstack([base, dups]).astype(np.float32)
    vecs = vecs[g.permutation(n_vecs)]
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(g.integers(0, 4, size=n_vecs).astype(np.int32)),
        }
    )
    return table, n_dup / n_vecs
