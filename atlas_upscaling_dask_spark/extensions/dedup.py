"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB of documents):

* **Exact** — hash-groupBy on the normalized text: one shuffle keyed by
  a 128-bit content hash (never the text itself — group keys stay
  16 bytes), map-side partial aggregation for the counts.
* **MinHash+LSH** — per-doc signature (narrow), band→bucket grouping
  (one shuffle on the band key), pair generation *within* buckets only:
  the candidate set is linear-ish in corpus size instead of the O(n²)
  all-pairs join.  Banding math: P(bucket-collision) = 1-(1-J^r)^b.
* **SimHash** — a single 64/16-bit fingerprint per doc (narrow);
  near-dup candidates = equal fingerprint (or equal band of bits).
* **n-gram Jaccard** — exact verification: explode shingles, self-join
  on shingle, count intersections; used to *verify* LSH candidates, not
  to generate pairs at scale.

Two hashing backends:

* ``tid``-based (**portable**): token ids come from a dictionary built
  with ``dense_rank`` over distinct tokens, and hash_i(t) = (a_i·tid +
  b_i) mod p.  Every step is plain SQL, so the DuckDB oracle replays it
  exactly — this is the correctness-gate variant (small/medium corpora:
  the dictionary is itself a distributed frame, but the final rank is a
  global window, so use it below ~1e9 distinct tokens).
* ``xxhash64``-based (**scale**): token/shingle ids come straight from
  Spark's built-in ``xxhash64`` — no dictionary, no global window, fully
  narrow.  Same algorithm, different hash family; property-tested in
  tests/ (not oracle-replayable since DuckDB lacks xxhash64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import index_store
# the takedown API is public here too
from .index_store import add_index_tombstones, purge_index_tombstones  # noqa: F401

# Mersenne prime 2^31-1; the (a·x+b) mod p family is the classic
# universal-hash construction used by MinHash implementations.
MINHASH_P = 2_147_483_647

# Large multipliers (classic LCG constants) so a·x+b wraps around p even
# for small dictionary ids.  With small constants the map is monotone in
# x below p — every "hash" then ranks ids identically, MinHash collapses
# to min-id similarity and SimHash bits to id parity (caught by tests).
_LCG_A = 1_103_515_245
_LCG_C = 1_013_904_223


def _hash_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash function i — identical constants are
    hardcoded in the SQL oracle (suite.py)."""
    return (_LCG_A * (2 * i + 1)) % MINHASH_P, (12_345 + _LCG_C * i) % MINHASH_P


def spread_small_input(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition by ``key_col`` iff the scan has fewer partitions than
    the session's shuffle parallelism.

    Byte-based input splitting undersizes parallelism for operators
    whose work explodes per row (shingling multiplies a document ~100×):
    a small parquet file arrives as ONE partition and the whole hash
    pipeline runs on one core.  Hash-repartitioning on the downstream
    GROUP KEY fixes that without adding a net shuffle — the partitioning
    survives the narrow ops, so the later groupBy(key) skips its
    exchange.  At real scale the scan already has ≥ target partitions
    and this is a no-op.
    """
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key_col))


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: keep the minimum id per distinct text.

    At scale, group on a content hash rather than the full text so
    shuffle keys stay fixed-width; the text column rides along via
    ``first`` (all rows in a group share it).  The fingerprint is
    128-bit — two independently-seeded ``xxhash64`` values — because a
    lone 64-bit key silently merges distinct documents at corpus scale
    (at 1e12 docs the birthday bound expects ~thousands of collisions;
    at 128 bits the expectation is ~1e-15).
    """
    return (
        docs.groupBy(
            F.xxhash64(F.col(text_col)).alias("__h1"),
            F.xxhash64(F.lit("fp2"), F.col(text_col)).alias("__h2"),
        )
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
            F.first(text_col).alias(text_col),
        )
        .select("keep_id", "n_copies", text_col)
    )


def duplicate_windows(
    docs: DataFrame,
    window: int = 32,
    stride: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicate token windows — the detection half of
    substring-level dedup ("Deduplicating Training Data Makes Language
    Models Better"-style): fixed-size token windows at a fixed stride,
    hashed and grouped; a window appearing in more than one document
    marks verbatim shared text that doc-level dedup misses (boilerplate,
    license blocks, quoted passages).

    The full suffix-array algorithm finds arbitrary-length repeats; the
    fixed-stride approximation stays embarrassingly parallel — one
    narrow explode (~n_tokens/stride rows per doc, fixed-width md5
    keys) and ONE aggregation — but its guarantee depends on stride:
    with ``stride == 1`` every shared span of ≥ ``window`` tokens is
    caught; with ``stride > 1`` windows start at multiples of stride
    from each document's OWN start, so a shared span is detected only
    when its start offsets in the two documents are congruent mod
    stride — an arbitrarily long verbatim duplicate offset by one token
    can be missed.  Use stride=1 for a real guarantee (stride× more
    rows), or treat larger strides as a recall/cost dial for
    boilerplate-scale sweeps.  For an offset-independent guarantee at
    any stride-like cost, use ``duplicate_spans`` (content-defined
    breakpoints).  Output is only the duplicated windows — small
    relative to any corpus.
    """
    # chained projections, not one nested expression — interpreted HOFs
    # have no CSE, so inlining re-splits the text per window element
    # (see duplicate_spans; measured ~15% here)
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("w")
    )
    starts = F.when(
        F.size(F.col("w")) >= window,
        F.sequence(F.lit(0), F.size(F.col("w")) - window, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    wins = F.transform(
        F.col("starts"),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i + 1, window))),
    )
    exploded = base.select("doc_id", "w", starts.alias("starts")).select(
        "doc_id", F.explode(wins).alias("win_hash")
    )
    return (
        exploded.groupBy("win_hash")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


def word_shingles(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document: (id, gram).

    Narrow explode of ``arrays_zip`` over n shifted bulk slices of the
    token array; the DISTINCT is a partial-aggregated shuffle on
    (id, gram).  Pass ``distinct=False`` when the consumer is
    duplicate-insensitive (MinHash: min over a multiset == min over its
    set) — the whole frame then stays narrow, no shuffle at all.

    r12 (guide §1.2 per-task work): the previous construction ran a
    Catalyst lambda per gram — ``transform(sequence(..), i ->
    concat_ws('_', slice(w, i+1, n)))`` — whose per-element interpreted
    ``slice`` allocation made shingling the DOMINANT cost of every
    set-similarity row (~25 µs/gram; stage-profiled 6.58 s for 260k
    grams at sf0.1).  The zip form does n bulk array slices per
    document and one codegen'd ``concat_ws`` per exploded row instead:
    1.11 s for the identical multiset (proven by two-way ``exceptAll``
    and an order-free hash-sum), 5.9×.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("w")
    )
    # documents shorter than n tokens have NO shingles — without the
    # guard, the slice length size(w)-(n-1) goes non-positive and throws
    zipped = ", ".join(f"slice(w, {k + 1}, size(w) - {n - 1})" for k in range(n))
    empty_t = ", ".join(f"`{k}`:string" for k in range(n))
    grams = toks.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(w) >= {n} THEN arrays_zip({zipped}) "
            f"ELSE CAST(array() AS array<struct<{empty_t}>>) END"
        ).alias("z"),
    )
    out = grams.select("doc_id", F.explode("z").alias("s")).select(
        "doc_id",
        F.concat_ws("_", *[f"s.{k}" for k in range(n)]).alias("gram"),
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (d1 < d2, jacc ≥ τ).

    All-pairs via the shingle self-join — exact but O(candidate²) within
    a shingle; at 100 TB this runs only on LSH candidate pairs (see
    ``minhash_lsh_pairs``), never the full corpus.  Jaccard is computed
    in integer space (|I|, |A|, |B|) and divided once at the end, so the
    oracle matches bitwise.
    """
    # one generic intersection join serves every set-similarity caller
    # (video frame hashes, any (id, item) bag) — text is items = shingles
    return set_jaccard_pairs(
        word_shingles(spread_small_input(docs, id_col), n, text_col, id_col),
        threshold,
        id_col="doc_id",
        item_col="gram",
    )


def token_dictionary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Portable token→id map: dense_rank over distinct tokens.

    The global (unpartitioned) window is the price of oracle
    portability; the xxhash64 backend below avoids it entirely at scale.
    """
    toks = docs.select(F.explode(F.split(F.col(text_col), " ")).alias("tok")).distinct()
    return toks.withColumn(
        "tid", F.dense_rank().over(Window.orderBy("tok")).cast("long")
    )


def _shingle_dictionary(grams: DataFrame) -> DataFrame:
    """Portable shingle→id map over a (doc_id, gram) frame."""
    return (
        grams.select("gram")
        .distinct()
        .withColumn("tid", F.dense_rank().over(Window.orderBy("gram")).cast("long"))
    )


def minhash_signatures_wide(
    docs: DataFrame,
    num_hashes: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_dictionary: bool = False,
) -> DataFrame:
    """Per-document MinHash signature, wide form: (doc_id, sig_arr).

    sig_arr[i] = min over the doc's shingles of (a_i·sid + b_i) mod p —
    shingles, not raw tokens: with a small vocabulary the token *set*
    degenerates (every doc contains most of it), while the shingle
    space grows as vocab^n, so the signature tracks n-gram Jaccard as
    MinHash theory intends.  The default (``use_dictionary=False``)
    replaces sid with ``pmod(xxhash64(gram), p)`` — the narrow,
    dictionary-free scale path with no global window anywhere.
    ``use_dictionary=True`` is the oracle-portability backend: its
    ``_shingle_dictionary`` assigns ids via an unpartitioned
    ``dense_rank`` over the distinct shingle vocabulary (a
    single-partition sort that dies at 100 TB) and exists only so
    DuckDB can reproduce the exact signature; oracle rows opt into it
    explicitly.

    MinHash is duplicate-insensitive, so the shingle frame skips its
    DISTINCT.  The xxhash backend computes the whole signature
    *array-side* — shingle hashes and the per-function minima live in
    array expressions within each document row, so the operator is 100%
    narrow: no explode to 100× rows, no shuffle at all (measured ~5×
    faster than explode→groupBy(min×16) at sf0.1).  The dictionary
    backend keeps the explode→join→groupBy shape because the token→id
    map forces a join on the gram.
    """
    docs = spread_small_input(docs, id_col)
    if not use_dictionary:
        # Filter on the TOKEN COUNT of the raw column, not on the
        # computed shingle-hash array: a filter over the derived array
        # gets pushdown-substituted with the whole transform expression
        # and defeats codegen subexpression reuse (measured 5× slower
        # at sf0.1 — 1.9 s vs 0.39 s for the full 16-hash signature).
        toks = docs.filter(
            F.size(F.split(F.col(text_col), " ")) >= shingle_n
        ).select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("w"))
        # r12: zip n shifted bulk slices instead of a per-element
        # interpreted slice() inside the lambda — same trick as
        # word_shingles, proven signature-identical; 1.42× at sf0.1
        zipped = ", ".join(
            f"slice(w, {k + 1}, size(w) - {shingle_n - 1})"
            for k in range(shingle_n)
        )
        joined = ", ".join(f"s.`{k}`" for k in range(shingle_n))
        h = toks.select(
            "doc_id",
            F.expr(
                f"transform(arrays_zip({zipped}), "
                f"s -> pmod(xxhash64(concat_ws('_', {joined})), {MINHASH_P}L))"
            ).alias("h"),
        )
        sig = F.array(
            *[
                F.expr(f"array_min(transform(h, t -> pmod({a}L * t + {b}L, {MINHASH_P}L)))")
                for a, b in (_hash_params(i) for i in range(num_hashes))
            ]
        )
        return h.select("doc_id", sig.alias("sig_arr"))
    grams = word_shingles(docs, shingle_n, text_col, id_col, distinct=False)
    dict_df = _shingle_dictionary(grams)
    toks = grams.join(F.broadcast(dict_df), "gram").select("doc_id", "tid")
    hashes = [
        F.min(F.pmod(F.lit(a) * F.col("tid") + F.lit(b), F.lit(MINHASH_P))).alias(
            f"sig_{i}"
        )
        for i, (a, b) in ((i, _hash_params(i)) for i in range(num_hashes))
    ]
    wide = toks.groupBy("doc_id").agg(*hashes)
    return wide.select(
        "doc_id",
        F.array(*[F.col(f"sig_{i}") for i in range(num_hashes)]).alias("sig_arr"),
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_dictionary: bool = False,
) -> DataFrame:
    """Narrow (doc_id, i, sig) view of ``minhash_signatures_wide``."""
    wide = minhash_signatures_wide(
        docs, num_hashes, shingle_n, text_col, id_col, use_dictionary
    )
    return wide.select(
        "doc_id", F.posexplode("sig_arr").alias("i", "sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    min_est_sim: float = 0.5,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_dictionary: bool = False,
) -> DataFrame:
    """LSH-banded MinHash near-dup pairs with estimated similarity.

    Signatures → ``bands`` bands of r = num_hashes/bands rows; docs
    sharing any band's full sub-signature become candidates (one shuffle
    on the band key; pairs generated within buckets only).  Candidates
    are then scored by est_sim = fraction of matching signature
    components, filtered at ``min_est_sim``.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    # Wide form: ONE row per doc with the ordered signature array.  All
    # banding and scoring below works on this single row — joining the
    # narrow (doc_id, i, sig) form instead multiplies every join by
    # num_hashes (measured 8× slower at sf0.1).
    wide = minhash_signatures_wide(
        docs, num_hashes, shingle_n, text_col, id_col, use_dictionary
    )
    return _bucket_pairs(_band_rows(wide, num_hashes, bands), num_hashes, min_est_sim)


def _est_sim(num_hashes: int):
    """Fraction of equal components of signature arrays arr1, arr2."""
    eq = F.zip_with(F.col("arr1"), F.col("arr2"), lambda a, b: a == b)
    return F.size(F.filter(eq, lambda e: e)) / num_hashes


def _bucket_pairs(
    banded: DataFrame, num_hashes: int, min_est_sim: float
) -> DataFrame:
    """(d1 < d2, est_sim) pairs sharing a (band, bkey) bucket of
    ``banded`` rows, at ``min_est_sim``.

    Score INSIDE the bucket join, then deduplicate (d1,d2): est_sim is
    a pure function of the two signatures, so every band that yields
    the same pair computes the same score and dropDuplicates is exact.
    The pair-dedup shuffle then carries one double per candidate
    instead of two num_hashes-long arrays, and sub-threshold pairs are
    gone before the exchange (measured 1.45 s → 1.21 s at sf0.1)."""
    l = banded.select(F.col("doc_id").alias("d1"), F.col("sig_arr").alias("arr1"), "band", "bkey")
    rr = banded.select(F.col("doc_id").alias("d2"), F.col("sig_arr").alias("arr2"), "band", "bkey")
    return (
        l.join(rr, ["band", "bkey"])
        .filter(F.col("d1") < F.col("d2"))
        .withColumn("est_sim", _est_sim(num_hashes))
        .filter(F.col("est_sim") >= min_est_sim)
        .select("d1", "d2", "est_sim")
        .dropDuplicates(["d1", "d2"])
    )


def simhash(
    docs: DataFrame,
    bits: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_dictionary: bool = False,
) -> DataFrame:
    """Per-document SimHash fingerprint (doc_id, simhash).

    bit_j(token) = ((a_j·tid + b_j) mod p) mod 2; fingerprint bit j is 1
    iff the sum over tokens of (2·bit_j − 1) is positive.  Hamming-close
    fingerprints ⇒ similar token multisets.  All-integer → portable.
    """
    toks = spread_small_input(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    if use_dictionary:
        dict_df = token_dictionary(docs, text_col)
        toks = toks.join(F.broadcast(dict_df), "tok").select("doc_id", "tid")
    else:
        toks = toks.select(
            "doc_id", F.pmod(F.xxhash64("tok"), F.lit(MINHASH_P)).alias("tid")
        )
    contribs = [
        F.sum(
            (
                F.pmod(
                    F.pmod(F.lit(a) * F.col("tid") + F.lit(b), F.lit(MINHASH_P)),
                    F.lit(2),
                )
                * 2
                - 1
            )
        ).alias(f"c_{j}")
        for j, (a, b) in ((j, _hash_params(j)) for j in range(bits))
    ]
    agg = toks.groupBy("doc_id").agg(*contribs)
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"c_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select("doc_id", fp.cast("long").alias("simhash"))


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Collapse near-duplicate pairs into keep/drop clusters.

    ``pairs`` is any (d1, d2) near-dup pair frame (MinHash-LSH, Jaccard,
    embedding cosine); transitive families merge via distributed
    connected components, the cluster id is the minimum member (the
    canonical "keep" document).  Returns (doc_id, cluster_id, is_keeper)
    for every document — singletons keep themselves.
    """
    from ..operators.components import connected_components_edges

    comp = connected_components_edges(
        docs.select(F.col(id_col).alias("id")),
        pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")),
    )
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).alias("is_keeper"),
    )


def line_dedup(
    docs: DataFrame,
    words_per_line: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level line deduplication (the CCNet / RefinedWeb scrub):
    every *line* that appears more than once across the corpus is kept
    only at its first occurrence (smallest (doc_id, position)); each
    document is reassembled from its surviving lines in original order.
    Boilerplate (nav bars, cookie banners, license headers) repeats
    across millions of pages and this removes all but one copy.

    The driver's synthetic corpus has no newlines, so a "line" here is
    each run of ``words_per_line`` consecutive words — the plan is
    identical to splitting on ``\\n``, only the split expression
    differs.

    Plan: explode to (line, doc_id, pos) → ONE shuffle partitioned by
    the line text (`row_number` elects the first occurrence) → per-doc
    reassembly groupBy.  At 100 TB the line-partitioned exchange keys
    on a 128-bit line hash, duplicates collapse within partitions, and
    heavy boilerplate lines are exactly the AQE skew-split case.
    Returns (doc_id, text, n_lines, n_kept).
    """
    words = F.split(F.col(text_col), " ")
    n_lines = F.ceil(F.size(words) / F.lit(words_per_line)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * words_per_line + 1, words_per_line)
        ),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), n_lines.alias("n_lines"), lines.alias("ls")
    )
    exploded = base.select("doc_id", F.posexplode("ls").alias("pos", "line"))
    first = Window.partitionBy("line").orderBy("doc_id", "pos")
    kept = (
        exploded.withColumn("_rk", F.row_number().over(first))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    reassembled = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text"),
        F.count("*").cast("int").alias("n_kept"),
    )
    return (
        base.select("doc_id", "n_lines")
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 4,
    breakpoint_chars: tuple[str, ...] = ("0", "1"),
    min_tokens: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicate spans via **content-defined segmentation**
    — the alignment-independent completion of ``duplicate_windows``.

    ``duplicate_windows`` samples windows at fixed strides from each
    document's own start, so with ``stride > 1`` a shared span is only
    detected when its start offsets happen to be congruent mod stride.
    Here segment boundaries are decided by the *content itself* (the CDC
    trick from rsync/LBFS, applied to token streams): position ``p`` ends
    a segment iff the md5 of the ``k``-gram ending at ``p`` starts with
    one of ``breakpoint_chars``.  Identical text therefore breaks at
    identical relative positions in every document that contains it —
    any shared span long enough to contain two interior breakpoints
    bounding a ``>= min_tokens`` segment is detected at ANY offset.

    Expected segment length = (k-1) + 16/len(breakpoint_chars) tokens
    (geometric waiting time on hex-digit classes); defaults give ~11.

    Plan: the whole segmentation happens ARRAY-SIDE in one narrow pass —
    anchor positions (md5 over k-token slices) → boundary list →
    (start, end) spans → per-span hash — so a document never leaves its
    row until the final explode of its ≥ ``min_tokens`` segment hashes.
    ONE data-bearing exchange (the span-hash aggregation's two
    COUNT-DISTINCT phases — segment-row-sized, never token-row-sized;
    fixed-width keys, heavy-boilerplate keys are the AQE skew-split
    case).  The stages are deliberately CHAINED PROJECTIONS, not one
    nested expression: higher-order functions evaluate interpreted with
    no common-subexpression elimination, so inlining (tokens → bounds →
    spans → hashes) re-evaluates the token split and the anchor pass
    per span element — measured 3.7 s vs 1.25 s at sf0.1.  (An even
    earlier formulation ran a doc-keyed running-sum window +
    collect_list reassembly — one more data-sized exchange on top.)
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    chars = F.array(*[F.lit(c) for c in breakpoint_chars])
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("w")
    )
    w, n = F.col("w"), F.size(F.col("w"))
    # breakpoint at pos: md5 of the k-gram ENDING at 0-based pos
    # (1-based slice start pos-k+2) starts with a breakpoint char;
    # positions < k-1 never anchor.  A breakpoint CLOSES its segment.
    bounds = F.when(
        n >= k,
        F.filter(
            F.sequence(F.lit(k - 1), n - 1),
            lambda pos: F.array_contains(
                chars,
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(w, pos - k + 2, k))), 1, 1
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    b1 = base.select("doc_id", "w", bounds.alias("bounds"))
    spans = F.filter(
        F.zip_with(
            F.concat(
                F.array(F.lit(0)), F.transform(F.col("bounds"), lambda b: b + 1)
            ),
            F.concat(F.col("bounds"), F.array(n - 1)),
            lambda s, e: F.struct(s.alias("s"), e.alias("e")),
        ),
        lambda sp: sp["e"] - sp["s"] + 1 >= min_tokens,
    )
    b2 = b1.select("doc_id", "w", spans.alias("spans"))
    seg_structs = F.transform(
        F.col("spans"),
        lambda sp: F.struct(
            F.md5(
                F.concat_ws(" ", F.slice(w, sp["s"] + 1, sp["e"] - sp["s"] + 1))
            ).alias("span_hash"),
            (sp["e"] - sp["s"] + 1).cast("long").alias("n_tokens"),
        ),
    )
    segs = b2.select("doc_id", F.explode(seg_structs).alias("g")).select(
        "doc_id",
        F.col("g.span_hash").alias("span_hash"),
        F.col("g.n_tokens").alias("n_tokens"),
    )
    return (
        segs.groupBy("span_hash")
        .agg(
            F.min("n_tokens").alias("n_tokens"),
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _band_rows(wide: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode a wide signature frame into (doc_id, sig_arr, band, bkey)
    rows — one per band, the bucket key = the band's sub-signature."""
    r = num_hashes // bands
    return wide.select(
        "doc_id",
        "sig_arr",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("sig_arr", b * r + 1, r),
                                lambda v: v.cast("string"),
                            ),
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id", "sig_arr", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )


def _banded_signatures(
    docs: DataFrame,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(doc_id, sig_arr, band, bkey) rows — the shared banding step of
    the inline pair generator and the persisted index (xxhash backend:
    corpus-independent, so index and probe hash identically)."""
    wide = minhash_signatures_wide(
        docs, num_hashes, shingle_n, text_col, id_col, use_dictionary=False
    )
    return _band_rows(wide, num_hashes, bands)


def build_lsh_index(
    docs: DataFrame,
    path: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the corpus's banded MinHash signatures as a queryable
    near-dup index — the dedup member of the persisted-index family
    (``similarity.build_ivf_index``, ``retrieval.build_text_index``).

    Layout: (doc_id, sig_arr, bkey) PARTITIONED BY band, so a probe's
    per-band bucket join reads only its band's files; a params sidecar
    pins (num_hashes, bands, shingle_n) and the probe path refuses a
    mismatched probe.  The point at 100 TB: signatures are computed
    ONCE per corpus — each new crawl batch probes (and can append to)
    the index instead of re-hashing petabytes.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    banded = _banded_signatures(docs, num_hashes, bands, shingle_n, text_col, id_col)
    index_store.write(
        banded,
        path,
        index_store.LSH,
        {
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_n": shingle_n,
            # pinned so the schema-explicit read (empty-bootstrap
            # support) works for string/int ids alike
            "id_type": index_store.id_type(docs, id_col),
        },
    )


def lsh_index_pairs(
    spark,
    path: str,
    min_est_sim: float = 0.5,
) -> DataFrame:
    """Corpus-internal near-dup pairs from a persisted index: the same
    bucket self-join + in-bucket scoring as ``minhash_lsh_pairs``, but
    the signature computation is a parquet scan (parity-tested)."""
    p = index_store.params(spark, path, index_store.LSH)
    banded = index_store.read(spark, path, index_store.LSH, p)
    return _bucket_pairs(banded, p["num_hashes"], min_est_sim)


def lsh_index_query(
    spark,
    path: str,
    probe_docs: DataFrame,
    min_est_sim: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe a persisted LSH index with NEW documents (the incremental
    crawl-dedup case): only the probe batch is hashed; the corpus side
    is the index scan, joined per (band, bucket).  Returns
    (probe_id, corpus_id, est_sim) candidates at ``min_est_sim``."""
    p = index_store.params(spark, path, index_store.LSH)
    probe = _banded_signatures(
        probe_docs, p["num_hashes"], p["bands"], p["shingle_n"], text_col, id_col
    ).select(
        F.col("doc_id").alias("probe_id"),
        F.col("sig_arr").alias("arr1"),
        "band",
        "bkey",
    )
    corpus = index_store.live(spark, path, index_store.LSH, p).select(
        F.col("doc_id").alias("corpus_id"),
        F.col("sig_arr").alias("arr2"),
        "band",
        "bkey",
    )
    return (
        probe.join(corpus, ["band", "bkey"])
        .withColumn("est_sim", _est_sim(p["num_hashes"]))
        .filter(F.col("est_sim") >= min_est_sim)
        .select("probe_id", "corpus_id", "est_sim")
        .dropDuplicates(["probe_id", "corpus_id"])
    )


def append_to_lsh_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold a NEW document batch into a persisted LSH index: the batch
    is hashed with the index's pinned parameters and its banded rows
    are APPENDED under the existing band partitions — the corpus is
    never re-read, so continuous crawl ingestion costs O(batch).
    Typical loop: ``lsh_index_query`` the batch first (dedup against
    the corpus), then append the survivors.
    """
    p = index_store.params(docs.sparkSession, path, index_store.LSH)
    banded = _banded_signatures(
        docs, p["num_hashes"], p["bands"], p["shingle_n"], text_col, id_col
    )
    index_store.append(banded, path, index_store.LSH, p)


def _rarest_first_arrays(
    docs: DataFrame, threshold: float, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, grams): each doc's distinct shingles sorted by ascending
    global document frequency (ties by the gram — a total order), the
    shared build of the prefix-filtered set-similarity joins.

    The table has three consumers (prefix explode + both verify
    sides): a lazy local checkpoint materializes it once and truncates
    its lineage — same pattern as pipeline.py's gate."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    g = word_shingles(spread_small_input(docs, id_col), n, text_col, id_col)
    freq = g.groupBy("gram").agg(F.count("*").alias("df"))
    return (
        g.join(freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("gram")))
            ).alias("sg")
        )
        .select("doc_id", F.expr("transform(sg, s -> s.gram)").alias("grams"))
        .localCheckpoint(eager=False)
    )


def _prefix(threshold: float):
    """The first ``|x| - ceil(t·|x|) + 1`` (≥ 1 for t ≤ 1) rarest grams:
    a pair reaching overlap ``ceil(t·|x|)`` must share one of them.
    Every ceil() of a float product subtracts a 1e-9 guard first: IEEE
    can render an exactly-integer product as k+ε (0.3·10 = 3.0000…04)
    and an unguarded ceil then SHORTENS the prefix — a silent
    missed-pair bug the brute-force oracle would flag only on the right
    corpus.  The guard only ever lengthens prefixes (safe)."""
    return F.expr(
        f"slice(grams, 1, CAST(size(grams) - ceil({threshold!r} * "
        f"size(grams) - 1e-9) + 1 AS INT))"
    )


def prefix_filter_join(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. WWW'07) — no all-pairs comparison and
    no approximation, unlike MinHash+LSH which trades recall for speed.

    Shingle sets are ordered by ascending global document frequency
    (rarest first; ties broken by the gram itself so the order is a
    total order).  For Jaccard ≥ t, two sets must overlap in at least
    ``ceil(t·|x|)`` elements, so if their length-``|x|-ceil(t·|x|)+1``
    prefixes are disjoint the pair cannot qualify — candidates are
    generated ONLY by an equi-join on prefix tokens.  Because prefixes
    hold the *rarest* grams, join buckets stay small even on Zipfian
    vocabularies: stop-gram-like shingles sort to the suffixes and never
    generate candidates.  A symmetric length filter (``t·|x| ≤ |y|`` and
    ``t·|y| ≤ |x|``) prunes before verification.

    Plan shape: freq count (1 exchange), per-doc sorted arrays
    (1 exchange) materialized ONCE via a lazy localCheckpoint (three
    consumers: prefix explode + both verify sides), prefix equi-join,
    candidate distinct, two verify joins back to the array table — the
    prefix-explode frame carries only (id, size, position, token),
    never the arrays, so the widest shuffle is bounded by total prefix
    length ≈ (1-t)·Σ|x|.  The PPJoin position filter prunes candidate
    pairs before verification (measured 2.8× fewer at sf0.1,
    193k→69k).  At
    100 TB swap the in-memory checkpoint for a parquet-staged array
    table (same plan, disk-backed).

    The completeness of the filter is itself oracle-checked: the DuckDB
    oracle computes brute-force all-pairs Jaccard, so ANY pair the
    prefix filter drops would show up as a row-count mismatch.
    """
    arrs = _rarest_first_arrays(docs, threshold, n, text_col, id_col)
    pref = arrs.select(
        "doc_id",
        F.size("grams").alias("sz"),
        F.posexplode(_prefix(threshold)).alias("pos", "tok"),
    )
    a = pref.select(
        F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"),
        (F.col("pos") + 1).alias("p1"), "tok",
    )
    b = pref.select(
        F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"),
        (F.col("pos") + 1).alias("p2"), "tok",
    )
    # PPJoin position filter: at the FIRST common prefix token the
    # remaining-suffix overlap bound 1 + min(|x|-p1, |y|-p2) must reach
    # the equivalent-overlap requirement α = ceil(t/(1+t)·(|x|+|y|));
    # a qualifying pair always passes at its first common token, so
    # per-row filtering before the distinct is lossless.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("sz1") + F.col("sz2"))
        - F.lit(1e-9)
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("d1") < F.col("d2"))
            & (F.col("sz2") >= F.ceil(F.lit(threshold) * F.col("sz1") - F.lit(1e-9)))
            & (F.col("sz1") >= F.ceil(F.lit(threshold) * F.col("sz2") - F.lit(1e-9)))
            & (
                F.lit(1)
                + F.least(
                    F.col("sz1") - F.col("p1"), F.col("sz2") - F.col("p2")
                )
                >= alpha
            )
        )
        .select("d1", "d2")
        .distinct()
        # same CPU-vs-bytes mismatch as containment_join: AQE coalesces
        # the pair distinct to a few byte-sized partitions while the
        # verify stage is array_intersect-bound — repartition the narrow
        # pair frame so verification uses every core
        .repartition(int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    )
    g1 = arrs.select(F.col("doc_id").alias("d1"), F.col("grams").alias("g1"))
    g2 = arrs.select(F.col("doc_id").alias("d2"), F.col("grams").alias("g2"))
    ver = (
        cand.join(g1, "d1")
        .join(g2, "d2")
        .select(
            "d1",
            "d2",
            # long, matching the brute-force oracle's count(*) dtype —
            # the driver's hash compare is typed (int32 != int64)
            F.size(F.array_intersect("g1", "g2")).cast("long").alias("inter"),
            F.size("g1").cast("long").alias("n1"),
            F.size("g2").cast("long").alias("n2"),
        )
    )
    return ver.withColumn(
        "jaccard", F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    ).filter(F.col("jaccard") >= threshold)


def containment_join(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT set-containment self-join: pairs where the CONTAINED doc's
    shingles lie (almost) wholly inside the CONTAINING doc —
    ``|S(in) ∩ S(out)| / |S(in)| ≥ t``, directional and asymmetric.

    This is the quote/excerpt/boilerplate-inclusion detector Jaccard
    joins cannot express: a 50-shingle snippet fully embedded in a
    5000-shingle page has Jaccard ≈ 0.01 (invisible to
    :func:`prefix_filter_join` at any useful τ) but containment 1.0.
    The reference has no dedup at all; this extends the driver-mandated
    dedup family (SURVEY §2.8) the way CC-style pipelines layer exact →
    near-dup → containment screens.

    Candidate generation is the classic inverted-index set-containment
    join with a frequency-ordered prefix filter on the CONTAINED side
    only: overlap must reach ``ceil(t·|in|)``, so if none of the first
    ``|in| - ceil(t·|in|) + 1`` rarest shingles of the contained doc hit
    the containing doc, the pair cannot qualify.  The containing side
    has no length bound (anything ≥ ceil(t·|in|) can contain), so it
    exposes ALL its tokens — the equi-join probes a full inverted index
    with the probe side's rarest grams, so candidate volume is bounded
    by the posting lengths of RARE tokens (Zipf tail), not by corpus
    size.  A size filter ``|out| ≥ ceil(t·|in|)`` prunes pre-verify.

    Plan shape: shingle freq count (1 exchange), per-doc sorted arrays
    materialized once (lazy localCheckpoint, 3 consumers), probe-prefix
    explode ⋈ full-posting explode, candidate distinct, two verify
    joins.  Containment is computed in integer space and divided ONCE
    (long/long → IEEE double), so the brute-force DuckDB oracle matches
    bitwise; any pair the prefix filter missed would surface as a
    row-count mismatch.  At 100 TB the posting side is the persisted
    inverted index (``retrieval.build_text_index`` layout) and the
    array table stages to parquet — same plan, disk-backed.
    """
    arrs = _rarest_first_arrays(docs, threshold, n, text_col, id_col)
    # contained-side prefix: p = |in| - ceil(t·|in|) + 1
    probe = arrs.select(
        F.col("doc_id").alias("d_in"),
        F.size("grams").alias("sz_in"),
        F.explode(_prefix(threshold)).alias("tok"),
    )
    posting = arrs.select(
        F.col("doc_id").alias("d_out"),
        F.size("grams").alias("sz_out"),
        F.explode("grams").alias("tok"),
    )
    cand = (
        probe.join(posting, "tok")
        .filter(
            (F.col("d_in") != F.col("d_out"))
            & (
                F.col("sz_out")
                >= F.ceil(F.lit(threshold) * F.col("sz_in") - F.lit(1e-9))
            )
        )
        .select("d_in", "d_out")
        .distinct()
        # AQE sizes post-shuffle partitions for ~64 MB of BYTES, but the
        # verify stage is CPU-bound (one array_intersect per pair) — a
        # byte-coalesced 3-partition distinct serializes it onto 3
        # cores.  An explicit narrow repartition of the (id, id) pair
        # frame restores full parallelism for ~nothing (measured 6.6 s
        # → 3.4 s at sf0.1).
        .repartition(int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    )
    g1 = arrs.select(F.col("doc_id").alias("d_in"), F.col("grams").alias("g_in"))
    g2 = arrs.select(F.col("doc_id").alias("d_out"), F.col("grams").alias("g_out"))
    ver = (
        cand.join(g1, "d_in")
        .join(g2, "d_out")
        .select(
            "d_in",
            "d_out",
            F.size(F.array_intersect("g_in", "g_out")).cast("long").alias("inter"),
            F.size("g_in").cast("long").alias("n_in"),
            F.size("g_out").cast("long").alias("n_out"),
        )
    )
    return ver.withColumn(
        "containment", F.col("inter") / F.col("n_in")
    ).filter(F.col("containment") >= threshold)


def _banded_hashes(
    hashes: DataFrame,
    n_bands: int,
    band_bits: int,
    id_col: str = "media_id",
    hash_col: str = "phash",
) -> DataFrame:
    """Explode each fingerprint into its disjoint bit bands:
    (media_id, phash, band, bits) — the multi-index rows behind both
    the in-flight Hamming join and the persisted pHash index."""
    mask = (1 << band_bits) - 1
    return hashes.select(
        F.col(id_col).alias("media_id"),
        F.col(hash_col).alias("phash"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), i -> "
                f"struct(i AS band, shiftright({hash_col}, i * {band_bits}) "
                f"& {mask}L AS bits))"
            )
        ).alias("b"),
    ).select("media_id", "phash", "b.band", "b.bits")


def hamming_near_dup(
    hashes: DataFrame,
    max_hamming: int = 7,
    id_col: str = "media_id",
    hash_col: str = "phash",
    n_bands: int = 8,
    band_bits: int = 8,
) -> DataFrame:
    """Hamming-distance near-duplicate join over 64-bit fingerprints
    (pHash, SimHash) WITHOUT all-pairs: the multi-index pigeonhole.

    Split each hash into ``n_bands`` disjoint bit bands; two hashes
    within Hamming distance ``max_hamming < n_bands`` differ in at most
    ``max_hamming`` bands, so at least one band matches EXACTLY —
    candidates come from an equi-join on (band, band_bits), the same
    shuffle shape as MinHash LSH banding but with a completeness
    GUARANTEE instead of a recall probability.  Verification is one
    ``bit_count(xor)`` per candidate pair.  At corpus scale the join
    cost tracks band-bucket occupancy (near-uniform for hash-like
    fingerprints), never |corpus|².

    Returns (d1, d2, hamming) for every unordered pair within the
    distance bound.
    """
    if not 0 <= max_hamming < n_bands:
        raise ValueError(
            f"need 0 <= max_hamming < n_bands for the pigeonhole "
            f"guarantee, got {max_hamming} vs {n_bands}"
        )
    # both join sides consume the hash frame — materialize it once so
    # an expensive upstream (image decode + DCT) doesn't run twice
    hashes = hashes.localCheckpoint(eager=False)
    banded = _banded_hashes(hashes, n_bands, band_bits, id_col, hash_col)
    a = banded.select(
        F.col("media_id").alias("d1"), F.col("phash").alias("_h1"), "band", "bits"
    )
    b = banded.select(
        F.col("media_id").alias("d2"), F.col("phash").alias("_h2"), "band", "bits"
    )
    cand = a.join(b, ["band", "bits"]).filter(F.col("d1") < F.col("d2"))
    return _within_hamming(cand, "d1", "d2", max_hamming)


def _within_hamming(
    cand: DataFrame, left: str, right: str, max_hamming: int
) -> DataFrame:
    """Distinct (left, right) band-join candidates with the Hamming
    distance of their hashes ``_h1``/``_h2``, kept within the bound."""
    return (
        cand.select(left, right, "_h1", "_h2")
        .distinct()
        .select(
            left,
            right,
            F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def build_phash_index(
    hashes: DataFrame,
    path: str,
    n_bands: int = 8,
    band_bits: int = 8,
    id_col: str = "media_id",
    hash_col: str = "phash",
) -> None:
    """Persist banded image fingerprints as a queryable Hamming index —
    the image member of the persisted-index family
    (``build_lsh_index``, ``similarity.build_ivf_index``,
    ``retrieval.build_text_index``).

    Layout: (media_id, phash, bits) PARTITIONED BY band; the per-band
    join co-locates each probe band with exactly its partition's files,
    and parquet min/max stats on ``bits`` prune row groups inside a
    band (a full 8-band probe touches every band partition — the
    pruning win is within-band, plus dynamic partition pruning when a
    small probe broadcasts).  At 100 TB the corpus is decoded and hashed
    ONCE — every new image batch probes (and appends to) the index
    instead of re-decoding the archive.  A params sidecar pins
    (n_bands, band_bits, id_type) and mismatched probes are refused.
    """
    index_store.write(
        _banded_hashes(hashes, n_bands, band_bits, id_col, hash_col),
        path,
        index_store.PHASH,
        {
            "n_bands": n_bands,
            "band_bits": band_bits,
            "id_type": index_store.id_type(hashes, id_col),
        },
    )


def phash_index_query(
    spark,
    path: str,
    probe_hashes: DataFrame,
    max_hamming: int = 7,
    id_col: str = "media_id",
    hash_col: str = "phash",
) -> DataFrame:
    """Probe a persisted pHash index with NEW image fingerprints:
    (probe_id, corpus_id, hamming) for every corpus image within the
    Hamming bound.  Only the probe batch is banded; the corpus side is
    the index scan joined per (band, bits) — incremental image dedup
    whose cost tracks the batch, not the archive."""
    p = index_store.params(spark, path, index_store.PHASH)
    if not 0 <= max_hamming < p["n_bands"]:
        raise ValueError(
            f"max_hamming {max_hamming} breaks the pigeonhole guarantee "
            f"for an index with {p['n_bands']} bands"
        )
    probe = _banded_hashes(
        probe_hashes, p["n_bands"], p["band_bits"], id_col, hash_col
    ).select(
        F.col("media_id").alias("probe_id"),
        F.col("phash").alias("_h1"),
        "band",
        "bits",
    )
    corpus = index_store.live(spark, path, index_store.PHASH, p).select(
        F.col("media_id").alias("corpus_id"),
        F.col("phash").alias("_h2"),
        "band",
        "bits",
    )
    cand = probe.join(corpus, ["band", "bits"])
    return _within_hamming(cand, "probe_id", "corpus_id", max_hamming)


def append_to_phash_index(
    hashes: DataFrame,
    path: str,
    id_col: str = "media_id",
    hash_col: str = "phash",
) -> None:
    """Fold a NEW image batch into a persisted pHash index: banded with
    the index's pinned parameters and APPENDED under the existing band
    partitions — ingest cost tracks the batch.  Typical loop:
    ``phash_index_query`` the batch first (dedup against the archive),
    then append the survivors."""
    p = index_store.params(hashes.sparkSession, path, index_store.PHASH)
    index_store.append(
        _banded_hashes(hashes, p["n_bands"], p["band_bits"], id_col, hash_col),
        path,
        index_store.PHASH,
        p,
    )


def set_jaccard_pairs(
    items: DataFrame,
    threshold: float = 0.5,
    id_col: str = "media_id",
    item_col: str = "phash",
) -> DataFrame:
    """Exact Jaccard similarity over generic (id, item) sets — the
    set-overlap join behind video near-dup (items = frame hashes) and
    any other bag-of-fingerprints comparison.  Same intersection-join
    shape as ``ngram_jaccard_pairs`` but item-typed: candidates come
    only from ids SHARING an item (equi-join on the item — never
    all-pairs), and the division happens once on exact integer counts.

    At 100 TB the item join is the standard inverted-index pattern:
    bucket sizes track item popularity (a frame hash shared by every
    video is a stop-item — prefilter such heavy hitters like stop
    words if the distribution calls for it).
    """
    g = items.select(F.col(id_col).alias("_id"), F.col(item_col).alias("_it")).distinct()
    sizes = g.groupBy("_id").agg(F.count("*").alias("sz"))
    a = g.select(F.col("_id").alias("d1"), "_it")
    b = g.select(F.col("_id").alias("d2"), "_it")
    inter = (
        a.join(b, "_it")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("inter"))
    )
    s1 = sizes.select(F.col("_id").alias("d1"), F.col("sz").alias("n1"))
    s2 = sizes.select(F.col("_id").alias("d2"), F.col("sz").alias("n2"))
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "inter", "n1", "n2", "jaccard")
    )


# ---------------------------------------------------------------------------
# Exact edit-distance self-join (pigeonhole segment signatures)
# ---------------------------------------------------------------------------


def _passjoin_name_pairs(names: DataFrame, max_dist: int) -> DataFrame:
    """All unordered pairs of DISTINCT strings within ``max_dist`` edits.

    Pigeonhole segment signatures (the PassJoin scheme, Li et al.,
    VLDB 2012 — public literature): split each string into ``d+1``
    contiguous segments; ``<= d`` edit operations can touch at most
    ``d`` of them, so at least one segment survives VERBATIM in the
    other string, shifted by at most ``d`` positions.  Candidates are
    therefore an EQUI-join of one side's segments against the other
    side's (length-class, segment-index, position-window) substrings —
    never an all-pairs comparison — then verified with one exact
    ``levenshtein`` call per distinct candidate pair.

    Completeness: the segment join covers every pair where the segment
    emitter's string has length ``>= d+1``; pairs where BOTH strings
    have length ``<= d`` are always within ``d`` edits (edit distance
    is bounded by the longer length) and come from the short bucket's
    tiny self-join.  Input column must be named ``_s``.

    At 100 TB the join key (segment text, length class, index) is
    selective for natural text — segments are ``~L/(d+1)`` chars, far
    more specific than q-grams — and the whole plan is one equi-join
    exchange plus narrow explodes.  A corpus whose strings share a long
    constant prefix degrades the segment keys (every pair matches on
    the constant segment); normalize such prefixes away first, exactly
    as ER blocking pipelines do — common-prefix stripping preserves
    edit distance.
    """
    d = max_dist
    n = d + 1
    s = names.select("_s", F.length("_s").alias("_l"))
    longs = s.filter(F.col("_l") >= n)
    seg_exprs = [
        f"l1 div {n} as k",
        f"l1 % {n} as r",
    ]
    pos_exprs = [
        f"k + if(i >= {n} - r, 1, 0) as seg_len",
        f"i * k + greatest(0, i - ({n} - r)) + 1 as seg_pos",
    ]
    a = (
        longs.selectExpr("_s as s1", "_l as l1")
        .selectExpr("s1", "l1", f"explode(sequence(0, {d})) as i")
        .selectExpr("s1", "l1", "i", *seg_exprs)
        .selectExpr("s1", "l1", "i", *pos_exprs)
        .selectExpr("s1", "l1", "i", "substring(s1, seg_pos, seg_len) as seg")
    )
    # enumerate only l1 >= l2 (the segment emitter is the LONGER
    # string; equal lengths tie-break below) — the pigeonhole covers
    # each unordered pair in one direction, halving candidate volume
    b = (
        s.selectExpr("_s as s2", "_l as l2")
        .selectExpr("s2", "l2", f"explode(sequence(0, {d})) as dl")
        .selectExpr("s2", "l2", "l2 + dl as l1")
        .filter(f"l1 >= {n}")
        .selectExpr("s2", "l2", "l1", f"explode(sequence(0, {d})) as i")
        .selectExpr("s2", "l2", "l1", "i", *seg_exprs)
        .selectExpr("s2", "l2", "l1", "i", *pos_exprs)
        .selectExpr(
            "s2",
            "l1",
            "i",
            "seg_len",
            f"greatest(1, seg_pos - {d}) as lo",
            f"least(l2 - seg_len + 1, seg_pos + {d}) as hi",
        )
        .filter("hi >= lo")
        .selectExpr("s2", "l1", "i", "seg_len", "explode(sequence(lo, hi)) as p")
        .selectExpr("s2", "l1", "i", "substring(s2, p, seg_len) as seg")
    )
    cand = (
        a.join(b, ["seg", "l1", "i"])
        .filter("s1 <> s2")
        .filter("l1 > length(s2) OR s1 < s2")
        .selectExpr("least(s1, s2) as nm_a", "greatest(s1, s2) as nm_b")
        .distinct()
    )
    verified = cand.withColumn(
        "dist", F.levenshtein("nm_a", "nm_b")
    ).filter(F.col("dist") <= d)
    shorts = s.filter(F.col("_l") <= d).select(F.col("_s").alias("nm_a"))
    short_pairs = (
        shorts.join(
            shorts.select(F.col("nm_a").alias("nm_b")),
            F.col("nm_a") < F.col("nm_b"),
        )
        # bounded-by-contract nested-loop bucket: strings shorter than
        # d+1 chars; ALL such pairs are within d edits by construction
        .withColumn("dist", F.levenshtein("nm_a", "nm_b"))
    )
    return verified.unionByName(short_pairs)


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Self-join: id pairs whose strings are within ``max_dist``
    Levenshtein edits — exact (verified), never all-pairs.

    Works on DISTINCT strings first (natural-language columns are
    heavily repeated: the part-name vocabulary is ~64 strings for any
    number of parts), so the segment join's cost tracks the VOCABULARY,
    not the row count; id pairs expand back afterwards: same-string id
    pairs at distance 0, cross-string pairs through two equi-joins on
    the verified string pairs.  Output: (id_a, id_b, dist), unordered
    pairs normalized id_a < id_b.
    """
    m = df.select(F.col(id_col).alias("_id"), F.col(str_col).alias("_nm"))
    names = m.select(F.col("_nm").alias("_s")).distinct()
    name_pairs = _passjoin_name_pairs(names, max_dist)
    same = (
        m.alias("x")
        .join(m.alias("y"), "_nm")
        .filter(F.expr("x._id < y._id"))
        .select(
            F.expr("x._id").alias("id_a"),
            F.expr("y._id").alias("id_b"),
            F.lit(0).cast("int").alias("dist"),
        )
    )
    cross = (
        name_pairs.join(m.withColumnRenamed("_nm", "nm_a"), "nm_a")
        .withColumnRenamed("_id", "ia")
        .join(m.withColumnRenamed("_nm", "nm_b"), "nm_b")
        .withColumnRenamed("_id", "ib")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )
    return same.unionByName(cross)


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (Hernandez & Stolfo's merge/purge method)
# ---------------------------------------------------------------------------


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_cols: list[str],
    window: int = 10,
    n_ranges: int = 32,
) -> DataFrame:
    """Candidate pairs within ``window`` positions of each other in the
    global ``sort_cols`` order — the classic entity-resolution blocking
    sweep (sort by a fuzzy key, compare only a sliding neighborhood:
    O(n·w) comparisons instead of O(n²)).

    Distributed global row numbers WITHOUT a single-partition sort and
    WITHOUT re-shuffling the sorted data: range-repartition on the sort
    key, sort within partitions, then read the partition id and a
    CONSECUTIVE local index straight out of
    ``monotonically_increasing_id`` (pid in the high bits, record
    number in the low 33 — consecutive from 0 per partition; the
    function is non-deterministic so Catalyst never reorders it across
    the sort).  Each partition's prefix-sum offset joins back as a
    BROADCAST frame (one row per partition — never a driver-side
    closure dict), so the only data-sized exchange is the range
    repartition itself.  Neighbor pairing buckets rows at width
    ``window`` and joins each bucket against itself and its successor,
    so a pair at offset ``< window`` is always co-keyed — one
    equi-join, no range join, no hot keys.

    Output: (id_a, id_b, rn_a, rn_b) with ``rn_b - rn_a < window``;
    callers apply their similarity predicate on top.  Ties in the sort
    key are broken by ``id_col``, and the input is first projected to
    DISTINCT (sort key, id) rows: with duplicate composites the
    re-evaluated (non-deterministic) rank lineage could number the two
    join sides differently and fabricate or drop neighbor pairs, so
    totality of the order is enforced by construction, not assumed.
    """
    keys = [*[F.col(c) for c in sort_cols], F.col(id_col)]
    local = (
        df.select(*keys)
        .distinct()
        .repartitionByRange(n_ranges, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_mid", F.monotonically_increasing_id())
        .select(
            F.col(id_col),
            F.shiftright("_mid", 33).alias("_pid"),
            (F.col("_mid").bitwiseAND((1 << 33) - 1) + 1).alias("_lrn"),
        )
        # materialize the (non-deterministic) rank assignment ONCE —
        # the offsets job and both join sides must read the same
        # numbering, and a checkpoint also stops the distinct+range
        # exchanges replaying per consumer
        .localCheckpoint()
    )
    counts = local.groupBy("_pid").agg(F.count("*").alias("_n"))
    # prefix-sum window over <= n_ranges rows: single partition is fine
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(woff), F.lit(0))
    ).select("_pid", "_off")
    # offsets has <= n_ranges rows: broadcast join, never a collect
    rn = (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("rn", F.col("_lrn") + F.col("_off"))
        .select(F.col(id_col), "rn")
    )
    lhs = rn.select(
        F.col(id_col).alias("id_a"),
        F.col("rn").alias("rn_a"),
        F.expr(f"(rn - 1) div {window}").alias("_b"),
    )
    # each right row registers under its own bucket AND its
    # predecessor's, so a pair at offset < window is always co-keyed —
    # keeps the join a pure equi-join (an OR condition would fall back
    # to a nested-loop cartesian)
    rhs = rn.select(
        F.col(id_col).alias("id_b"),
        F.col("rn").alias("rn_b"),
        F.explode(
            F.array(
                F.expr(f"(rn - 1) div {window}"),
                F.expr(f"(rn - 1) div {window} - 1"),
            )
        ).alias("_b"),
    )
    return (
        lhs.join(rhs, "_b")
        .filter(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") - F.col("rn_a") < window)
        )
        .select("id_a", "id_b", "rn_a", "rn_b")
    )


def canonical_by_quality(
    docs: DataFrame,
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup family,
    keep the HIGHEST-QUALITY member instead of the arbitrary min-id.

    Production dedup pipelines keep the best copy of a duplicated page
    (longest, cleanest, most recent crawl), not the lexicographically
    first — :func:`near_dup_clusters` supplies the families (transitive
    closure over any pair frame), ``quality`` supplies (doc_id, quality)
    from any scorer, and the winner is argmax(quality) with min(doc_id)
    as the deterministic tiebreak.  Returns every doc as (doc_id,
    cluster_id, quality, is_canonical); singletons are their own
    canonical.

    Plan: components fixpoint + ONE broadcast-able join + ONE window per
    cluster — the window partitions by cluster_id, whose cardinality
    and skew track duplicate families (bounded in practice; a pathological
    mega-family degrades to the same single-partition sort any per-group
    argmax does, and salting the rank as in skew.py applies unchanged).
    """
    clusters = near_dup_clusters(docs, pairs, id_col).select(
        "doc_id", "cluster_id"
    )
    joined = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return joined.select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )
