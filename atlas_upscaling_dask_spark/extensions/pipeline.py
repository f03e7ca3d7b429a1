"""End-to-end document-preparation pipeline as ONE composed plan.

What a training-data run actually executes is not six separate jobs —
it is normalize + language-ID + quality + token stats + fingerprint +
exact-dedup over one corpus.  Composed naively (each operator its own
frame, joined back on doc_id) that costs a shuffle per operator; at
100 TB the joins dominate everything.

``doc_pipeline`` composes the *expression builders* from
``extensions.text`` into a single narrow select — one pass over the
corpus, every per-row signal computed in the same whole-stage-codegen
span — followed by exactly ONE shuffle: the window over ``norm_text``
that elects each exact-duplicate group's canonical (minimum-id)
document.  Catalyst's subexpression elimination dedups the repeated
tokenizations across the composed expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import spread_small_input
from .text import (
    fingerprint_expr,
    lang_exprs,
    normalize_expr,
    quality_expr,
    stats_exprs,
)


def doc_pipeline(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document enrichment + exact-dedup canonical election.

    Returns (doc_id, norm_text, n_tokens, n_bpe_tokens, lang_pred,
    quality, fingerprint, canonical_id, is_canonical): one narrow pass
    for the signals, one shuffle (window on norm_text) for the
    canonical flag.  Downstream consumers filter
    ``is_canonical AND quality >= τ`` to materialize the training set.
    """
    docs = spread_small_input(docs, id_col)
    s = stats_exprs(text_col)
    pred, _hits = lang_exprs(text_col)
    enriched = docs.select(
        F.col(id_col).alias("doc_id"),
        normalize_expr(text_col).alias("norm_text"),
        s["n_tokens"].alias("n_tokens"),
        s["n_bpe_tokens"].alias("n_bpe_tokens"),
        pred.alias("lang_pred"),
        quality_expr(text_col).alias("quality"),
        fingerprint_expr(text_col).alias("fingerprint"),
    )
    # Window key: a 128-bit fingerprint of norm_text, NOT the text
    # itself — the shuffle hash/sort then works on two fixed-width
    # longs instead of arbitrarily long strings (same dedup semantics;
    # collision expectation ~1e-15 even at 1e12 docs, like exact_dedup).
    w = Window.partitionBy(
        F.xxhash64("norm_text"), F.xxhash64(F.lit("fp2"), "norm_text")
    )
    return enriched.withColumn(
        "canonical_id", F.min("doc_id").over(w)
    ).withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id"))


def prepare_training_set(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_weights: dict[str, float] | None = None,
    mixture_weights: dict[str, float] | None = None,
    mixture_total: int = 0,
    split_fractions: dict[str, float] | None = None,
    keep_split: str = "train",
    n_shards: int = 8,
    seed: int = 0,
    budget: int = 256,
    contamination_n: int = 5,
) -> DataFrame:
    """The whole training-set assembly as ONE composed plan:

    quality gate (model margin ≥ 0, narrow) → exact-dedup canonical
    election (one 128-bit-key window shuffle) → benchmark
    decontamination (shingle semi-join, anti-joined back) → optional
    domain-mixture resampling (one window) → deterministic train split
    (narrow md5 bands) → shuffle/shard/pack offsets (one per-shard
    window).

    Returns (doc_id, source, shard, shuffle_pos, n_tokens,
    start_offset, pack_id) — exactly what a shard writer consumes.
    Shuffle budget of the full pipeline: 2 windows + the bounded
    decontamination joins (+1 window with mixture) — at 100 TB nothing
    here is a global sort, and every stage is reproducible (the whole
    output is a pure function of (corpus, benchmark, seed)).

    ``id_col`` must be a key of ``docs`` (the oracle SQL assumes the
    same): contamination is then a per-document predicate, so it is
    flagged on the quality-gated corpus before the dedup window, and
    the window's survivors are anti-joined with the flagged ids.
    """
    from .text import model_quality_margin_expr
    from .training import (
        _shingle_rows,
        hash_split_expr,
        mixture_resample,
        shuffle_pos_expr,
    )

    # 1 — quality gate (margin cut is exact; no sigmoid in the filter)
    d = docs.filter(model_quality_margin_expr(text_col, quality_weights) >= 0)
    # 2 — contaminated ids: gated docs sharing a word n-gram with the
    # benchmark.  A flagged doc's exact copies share its text and are
    # flagged too, so whichever copy the window elects is dropped by the
    # anti-join below; this second consumer of the gated frame replays
    # only the narrow scan + gate, never the window.  Only the flag is
    # needed, so the benchmark's shingles broadcast as they are into a
    # semi-join (no distinct exchange, unlike `contamination`'s scores).
    # Shingling multiplies a doc ~100×, so a one-split input is spread
    # first; the main path is not (Catalyst pushes the gate below a
    # spread exchange, and the window re-exchanges on its own key).  The
    # flagged ids are few by the contract that makes the benchmark
    # broadcastable, so the anti-join broadcasts too.
    if benchmark is not None:
        bench = _shingle_rows(
            benchmark, contamination_n, text_col, id_col, "bench_id"
        ).select("shingle")
        bad = (
            _shingle_rows(
                spread_small_input(d, id_col), contamination_n, text_col, id_col, id_col
            )
            .join(F.broadcast(bench), "shingle", "left_semi")
            .select(id_col)
            .distinct()
        )
    # 3 — exact-dedup canonical election on the 128-bit content key,
    # then the flagged ids leave
    w = Window.partitionBy(
        F.xxhash64(F.col(text_col)), F.xxhash64(F.lit("fp2"), F.col(text_col))
    )
    d = (
        d.withColumn("_cid", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_cid"))
        .drop("_cid")
    )
    if benchmark is not None:
        d = d.join(F.broadcast(bad), id_col, "left_anti")
    # 4 — optional mixture to target source shares
    if mixture_weights:
        d = mixture_resample(
            d, mixture_weights, mixture_total, key_col=id_col, seed=seed
        )
    # 5 — deterministic split, keep the training band
    d = d.select("*", hash_split_expr(id_col, split_fractions)).filter(
        F.col("split") == keep_split
    )
    # 6 — shuffle order, shards, token-budget pack offsets
    pos = shuffle_pos_expr(id_col, seed)
    base = d.select(
        F.col(id_col).alias("doc_id"),
        F.col("source"),
        F.size(F.split(F.col(text_col), " ")).alias("n_tokens"),
        pos.alias("shuffle_pos"),
        (pos % F.lit(n_shards)).cast("int").alias("shard"),
    )
    cum = F.sum("n_tokens").over(
        Window.partitionBy("shard")
        .orderBy("shuffle_pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.select(
        "doc_id",
        "source",
        "shard",
        "shuffle_pos",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("start_offset"),
        F.floor((cum - F.col("n_tokens")) / F.lit(budget)).alias("pack_id"),
    )


def prepare_rag_corpus(
    docs: DataFrame,
    max_tokens: int = 64,
    overlap: int = 16,
    quality_weights: dict[str, float] | None = None,
    split_fractions: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retrieval-corpus preparation as ONE composed plan — the RAG twin
    of ``prepare_training_set`` (which packs short docs for pretraining;
    this screens and CHUNKS long docs for a retrieval index):

    model quality gate (margin ≥ 0, narrow) → exact-dedup canonical
    election (one 128-bit-key window shuffle) → **self-calibrating LM
    screen** (bigram LM trained on the surviving corpus itself; keep
    documents scoring at or above the corpus mean — no magic threshold,
    and the cut point is a pure function of the corpus) → overlapping
    context-window chunking (narrow explode) → deterministic hash
    split.

    Returns (doc_id, chunk_id, start_token, n_tokens, chunk_text,
    lm_score, split).  Documents with < 2 tokens have no LM score and
    drop at the screen, mirroring the oracle's inner join.  Exactness:
    the mean-score cut compares bitwise-identical doubles (lm_score
    contract), and the mean itself is a DECIMAL-summed, order-
    independent aggregate broadcast as a 1-row frame — never a driver
    collect.
    """
    from .text import lm_score as _lm_score
    from .text import model_quality_margin_expr
    from .training import hash_split_expr

    # 1 — quality gate (narrow)
    d = docs.filter(model_quality_margin_expr(text_col, quality_weights) >= 0)
    # 3 — exact-dedup canonical election on the 128-bit content key,
    # then the flagged ids leave
    w = Window.partitionBy(
        F.xxhash64(F.col(text_col)), F.xxhash64(F.lit("fp2"), F.col(text_col))
    )
    d = (
        d.withColumn("_cid", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_cid"))
        .drop("_cid")
    )
    # The deduped corpus feeds FOUR consumers (bigram explode, unigram
    # counts, the scoring join, the kept projection); without a
    # materialization Catalyst re-executes the gate + dedup window once
    # per branch (measured: 20 exchanges vs 7).  At 100 TB this stage
    # is where you write the deduped corpus to parquet; the in-session
    # analog is a lazy local checkpoint — computed once, lineage
    # truncated, every branch reads the materialized blocks.
    d = d.localCheckpoint(eager=False)
    # 3 — LM screen: train on the deduped corpus, keep >= corpus mean
    scores = _lm_score(d, text_col=text_col, id_col=id_col).select(
        F.col("doc_id"), F.col("lm_score")
    )
    mean = scores.agg(
        (
            F.sum(F.round(F.col("lm_score"), 12).cast("decimal(28,12)")).cast(
                "double"
            )
            / F.count("*")
        ).alias("mean_score")
    )
    # compare the ROUNDED score against the mean-of-rounded-scores: the
    # mean is built from round(score, 12) terms, so comparing the raw
    # score would drop a lone/tightly-clustered doc whose 12-digit
    # rounding lands above it (score == mean must keep)
    kept = (
        d.join(scores, d[id_col] == scores.doc_id)
        .drop(scores.doc_id)
        .crossJoin(F.broadcast(mean))
        .filter(F.round(F.col("lm_score"), 12) >= F.col("mean_score"))
        .select(F.col(id_col), F.col(text_col), F.col("lm_score"))
    )
    # 4+5 — chunk for the retrieval index (narrow explode; lm_score and
    # the split band ride along in the same select — no join back)
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks).cast("long")
    n_chunks = F.when(n <= max_tokens, F.lit(1).cast("long")).otherwise(
        F.expr(
            f"CAST((size(split({text_col}, ' ')) - {max_tokens} + {stride - 1}) "
            f"div {stride} AS BIGINT) + 1"
        )
    )
    spans = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            (i * stride).alias("start_token"),
            F.least(F.lit(max_tokens).cast("long"), n - i * stride).alias("n_tokens"),
            F.concat_ws(
                " ", F.slice(toks, (i * stride + 1).cast("int"), max_tokens)
            ).alias("chunk_text"),
        ),
    )
    return kept.select(
        F.col(id_col).alias("doc_id"),
        F.col("lm_score"),
        F.explode(spans).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.start_token").alias("start_token"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
        "lm_score",
        hash_split_expr("doc_id", split_fractions),
    )
