"""The seeded generators: same seed, byte-identical inputs; another seed,
other inputs."""

import numpy as np
import pyarrow as pa

from perfbench import gen

SHAPE = (48, 64, 80)
CHUNK = (16, 32, 32)


def _volume_bytes(seed):
    vol = gen.label_volume(seed, SHAPE, CHUNK)
    updated, changed = gen.delta_chunks(vol, seed, 0.1)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, gen.chunk_table(vol).schema) as w:
        w.write_table(gen.chunk_table(vol))
        w.write_table(gen.chunk_table(updated))
    return sink.getvalue().to_pybytes(), changed


def _corpus_bytes(seed):
    c = gen.corpus(seed, 400)
    emb, _ = gen.embeddings(seed, 100, dim=16)
    sink = pa.BufferOutputStream()
    for t in (c.docs, emb):
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
    return sink.getvalue().to_pybytes() + c.families.tobytes()


def test_volume_inputs_repeat_per_seed():
    assert _volume_bytes(5) == _volume_bytes(5)
    assert _volume_bytes(5)[0] != _volume_bytes(6)[0]


def test_corpus_inputs_repeat_per_seed():
    assert _corpus_bytes(5) == _corpus_bytes(5)
    assert _corpus_bytes(5) != _corpus_bytes(6)


def test_lookup_queries_repeat_per_seed():
    vol = gen.label_volume(1, SHAPE, CHUNK)
    a = gen.lookup_queries(3, vol, 40, 0.5, 2)
    assert a == gen.lookup_queries(3, vol, 40, 0.5, 2)
    assert a != gen.lookup_queries(4, vol, 40, 0.5, 2)
    # every block of ten holds the stated mix
    for i in range(0, 40, 10):
        kinds = sorted(q[0] for q in a[i:i + 10])
        assert kinds == ["ontology"] + ["point"] * 8 + ["upscaled"]


def test_volume_properties():
    vol = gen.label_volume(2, SHAPE, CHUNK)
    assert vol.labels.dtype == np.uint32
    assert set(np.unique(vol.labels)) <= {0, *gen.REGION_IDS.tolist()}
    assert 0.2 < vol.zero_frac < 0.8  # a background margin, not an empty volume
    updated, changed = gen.delta_chunks(vol, 2, 0.1)
    diff = {
        k for k, (z0, y0, x0) in vol.chunk_origins()
        if not np.array_equal(
            vol.labels[z0:z0 + 16, y0:y0 + 32, x0:x0 + 32],
            updated.labels[z0:z0 + 16, y0:y0 + 32, x0:x0 + 32],
        )
    }
    assert diff == set(changed)


def test_corpus_duplicate_truth():
    c = gen.corpus(3, 1000, exact_dup_frac=0.05, near_dup_frac=0.05, edits=2)
    texts = c.docs["text"].to_pylist()
    pairs = gen.seeded_dup_pairs(c)
    assert pairs and all(a < b for a, b in pairs)
    exact = sum(texts[a] == texts[b] for a, b in pairs)
    assert exact >= 50  # every exact copy pairs with its origin
    for a, b in pairs:
        wa, wb = texts[a].split(), texts[b].split()
        assert len(wa) == len(wb)
        assert sum(x != y for x, y in zip(wa, wb)) <= 4  # at most two edited copies
