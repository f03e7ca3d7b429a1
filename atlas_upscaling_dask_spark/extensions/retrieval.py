"""Full-text retrieval over the document corpus: BM25 ranking.

The missing piece between the dedup/quality operators and an actual
*search* surface: given a bag of query terms, rank documents by BM25.
The whole scorer is expressed with built-in ``pyspark.sql.functions``
(one corpus-stats aggregate + one narrow scoring pass), so it rides
whole-stage codegen and scales like any other aggregation.

Plan shape (and why it survives 100 TB):

1. **Corpus statistics in ONE reduce** — ``N`` (doc count), total
   token count, and per-query-term document frequencies are computed
   in a single aggregate with map-side partials.  Because the query
   terms are a small literal list, the document frequencies are
   conditional counts inside the same aggregate — no explode, no
   per-term pass, no join against an inverted index.
2. **Broadcast the 1-row stats** and score every document in a narrow,
   codegen'd projection (term frequency = ``size(filter(tokens, …))``
   per literal term).
3. **Top-k via ``orderBy().limit(k)``** which Spark plans as
   TakeOrderedAndProject: per-partition heaps, one tiny merge — never
   a global sort.

So a 100 TB corpus costs two scans (stats + scoring) and ships k rows.
For a *repeated-query* workload you would materialize an inverted
index (posting lists bucketed by term); for the ad-hoc analytical
case — "rank my corpus against this probe" — the two-scan form is the
right plan, and it is embarrassingly cache-friendly when the stats
frame is reused across queries.

Exactness: ``idf_mode="rational"`` replaces the classic ``ln`` idf
with the exact rational ``(N - df + 0.5)/(df + 0.5)`` (scaled to
integers), and the tf normalization is algebraically rewritten so the
ONLY floating-point operations are single IEEE divisions of exact
integers plus a fixed-order sum — bitwise reproducible across engines
(the DuckDB oracle replays it).  ``idf_mode="ln"`` is the textbook
``ln(1 + (N - df + 0.5)/(df + 0.5))`` Robertson idf for production
use (libm ``log`` is engine-specific at the last ulp, so it is not
the oracle mode).

With k1 = 6/5 and b = 3/4 the per-term score in rational mode is::

    idf_t  = (2N - 2df + 1) / (2df + 1)                  -- exact ints
    tfn_t  = 10*S*tf / (10*S*tf + 3*S + 9*dl*N)          -- exact ints
    score  = Σ_t (idf_num*tf_num) / (idf_den*tf_den)     -- one division per term

where S is the corpus token count and dl the document length.  The
integer products stay far inside int64 for any corpus DuckDB can hold;
the Spark path at petabyte scale would switch to ``ln`` mode anyway.

Reference parity: the reference repo has no retrieval surface at all —
this is part of the driver-mandated training-data extension brief
(corpus probes: "which documents match this contamination query").
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import index_store

K1_NUM, K1_DEN = 6, 5  # k1 = 1.2
B_NUM, B_DEN = 3, 4  # b = 0.75


def _tokens(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def _tf(text_col: str, term: str) -> Column:
    # term frequency: occurrences of the literal term among tokens
    return F.size(F.filter(_tokens(text_col), lambda t: t == F.lit(term)))


def corpus_stats(
    docs: DataFrame, query_terms: list[str], text_col: str = "text"
) -> DataFrame:
    """One-row frame: N docs, S total tokens, df per query term.

    A single aggregate with map-side partials — the per-term document
    frequencies are conditional counts over the same pass, not joins.
    """
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum(F.size(_tokens(text_col))).alias("sum_len"),
    ]
    for i, term in enumerate(query_terms):
        aggs.append(
            F.sum(
                F.when(F.array_contains(_tokens(text_col), term), 1).otherwise(0)
            ).alias(f"df_{i}")
        )
    return docs.agg(*aggs)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf_mode: str = "rational",
) -> DataFrame:
    """Top-``k`` documents by BM25 against a literal term query.

    Returns ``(doc_id, score, rank)`` for documents matching at least
    one query term; total order = (score desc, doc_id asc).  See the
    module docstring for the plan shape and the exactness contract of
    ``idf_mode="rational"`` vs the textbook ``"ln"``.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if idf_mode not in ("rational", "ln"):
        raise ValueError(f"unknown idf_mode: {idf_mode!r}")

    stats = corpus_stats(docs, query_terms, text_col)
    # 1-row frame: broadcast the crossJoin so scoring stays narrow.
    scored = docs.crossJoin(F.broadcast(stats))

    n, s = F.col("n_docs"), F.col("sum_len")
    dl = F.size(_tokens(text_col))
    score: Column | None = None
    for i, term in enumerate(query_terms):
        tf, df = _tf(text_col, term), F.col(f"df_{i}")
        if idf_mode == "rational":
            # (idf_num/idf_den) * (tf_num/tf_den) as ONE exact-int division
            idf_num = 2 * n - 2 * df + 1
            idf_den = 2 * df + 1
            tf_num = 10 * s * tf
            tf_den = 10 * s * tf + 3 * s + 9 * dl * n
            t_score = (idf_num * tf_num).cast("double") / (
                (idf_den * tf_den).cast("double")
            )
        else:
            idf = F.log(
                F.lit(1.0)
                + (n - df + F.lit(0.5)) / (df + F.lit(0.5))
            )
            denom = tf.cast("double") + F.lit(K1_NUM / K1_DEN) * (
                F.lit(1 - B_NUM / B_DEN)
                + F.lit(B_NUM / B_DEN) * dl.cast("double") * n / s
            )
            t_score = idf * tf / denom
        score = t_score if score is None else score + t_score

    return _ranked_topk(
        scored.select(F.col(id_col).alias("doc_id"), score.alias("score")), k
    )


def _ranked_topk(scores: DataFrame, k: int) -> DataFrame:
    """(doc_id, score, rank) of the ``k`` best positive-score rows of
    (doc_id, score), total order (score desc, doc_id asc)."""
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    topk = scores.filter(F.col("score") > 0).orderBy(*order).limit(k)
    w = Window.orderBy(*order)  # ≤ k rows: single partition is fine
    return topk.select(
        "doc_id", "score", F.row_number().over(w).cast("int").alias("rank")
    )


def bm25_oracle_sql(
    query_terms: list[str], k: int = 10, table: str = "documents"
) -> str:
    """The DuckDB twin of :func:`bm25_topk` (rational idf mode) —
    generated from the same term list so both sides stay in lockstep."""
    df_cols = ",\n         ".join(
        "SUM(CASE WHEN list_contains(str_split(text, ' '), '{t}') "
        "THEN 1 ELSE 0 END) AS df_{i}".format(t=t.replace("'", "''"), i=i)
        for i, t in enumerate(query_terms)
    )
    term_scores = []
    for i, t in enumerate(query_terms):
        lit = t.replace("'", "''")
        tf = f"len(list_filter(str_split(d.text, ' '), x -> x = '{lit}'))"
        term_scores.append(
            "(CAST((2*s.n_docs - 2*s.df_{i} + 1) * (10*s.sum_len*{tf}) AS DOUBLE)"
            " / CAST((2*s.df_{i} + 1) * (10*s.sum_len*{tf} + 3*s.sum_len"
            " + 9*len(str_split(d.text, ' '))*s.n_docs) AS DOUBLE))".format(
                i=i, tf=tf
            )
        )
    score = "(" + " + ".join(term_scores) + ")"
    return f"""
WITH stats AS (
  SELECT COUNT(*) AS n_docs, SUM(len(str_split(text, ' '))) AS sum_len,
         {df_cols}
  FROM {table}
),
scored AS (
  SELECT d.doc_id AS doc_id, {score} AS score
  FROM {table} d CROSS JOIN stats s
)
SELECT doc_id, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored WHERE score > 0
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Persisted inverted index — the repeated-query path
# ---------------------------------------------------------------------------

INDEX_BUCKETS = 64


def _bucket_of_terms(spark, terms: list[str], n_buckets: int) -> dict[str, int]:
    """Bucket id per term, computed with the SAME Spark expression the
    build used (xxhash64) — a driver-side scalar resolve, |terms| rows."""
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    rows = df.select(
        "term", (F.abs(F.xxhash64("term")) % n_buckets).alias("bucket")
    ).collect()
    return {r["term"]: int(r["bucket"]) for r in rows}


def _postings(
    docs: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """(term, doc_id, dl, tf, bucket) postings of ``docs`` — one row per
    distinct (term, doc), the doc's length denormalized in."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), " ")).alias("dl"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    return (
        toks.groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .withColumn("bucket", F.abs(F.xxhash64("term")) % n_buckets)
    )


def _length_stats(docs: DataFrame, text_col: str) -> dict:
    """{"n_docs", "sum_len"} of ``docs`` in one aggregate (0, 0 when empty)."""
    stats = docs.agg(
        F.count("*").alias("n"),
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("s"),
    ).collect()[0]
    return {"n_docs": int(stats["n"]), "sum_len": int(stats["s"] or 0)}


def build_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = INDEX_BUCKETS,
) -> None:
    """Materialize the inverted index: postings PARTITIONED BY term-hash
    bucket, corpus-global stats in a JSON sidecar.

    The repeated-query counterpart of the two-scan :func:`bm25_topk`
    (same pattern as the persisted IVF index,
    `similarity.build_ivf_index`): tokenize/count once at build time;
    every later query reads ONLY the buckets its terms hash to — the
    bucket partition column prunes directories before any posting is
    scanned, so query cost scales with posting-list length, not corpus
    size.  Document length is denormalized INTO the postings, so
    scoring needs no join back to the corpus.  Partitioning by a
    64-way hash bucket (not by raw term) keeps the directory count
    fixed no matter how large the vocabulary grows.
    """
    index_store.write(
        _postings(docs, text_col, id_col, n_buckets),
        path,
        index_store.BM25,
        # n_docs/sum_len are 0 on an EMPTY bootstrap build (the t=0 of
        # continuous ingestion — appends fill them in); id_type pins
        # the schema-explicit read for string/int ids alike
        {**_length_stats(docs, text_col), "n_buckets": n_buckets,
         "id_type": index_store.id_type(docs, id_col)},
    )


def bm25_index_topk(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """BM25 top-k against a persisted inverted index.

    Reads only the partition-pruned buckets the query terms hash to
    (PartitionFilters on the scan), computes per-term document
    frequencies from the matching postings themselves (≤ |terms| rows
    collected — small by contract, like IVF probe ids), and scores
    with the same rational-idf arithmetic as :func:`bm25_topk` — the
    per-document term sum is pivoted into a FIXED-order chain, so the
    result is bitwise identical to the inline two-scan plan (pytest
    parity + the shared DuckDB oracle).
    """
    stats = index_store.params(spark, path, index_store.BM25)
    n, s = stats["n_docs"], stats["sum_len"]
    buckets = sorted(
        set(_bucket_of_terms(spark, query_terms, stats["n_buckets"]).values())
    )
    postings = (
        index_store.live(spark, path, index_store.BM25, stats)
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(query_terms))
    )
    # taken-down docs stop matching AND stop counting toward df here;
    # the global (n_docs, sum_len) stay pre-purge until
    # purge_index_tombstones adjusts the sidecar — a conservative idf
    # drift bounded by the tombstone share
    dfreq = {
        r["term"]: int(r["n"])
        for r in postings.groupBy("term").agg(F.count("*").alias("n")).collect()
    }

    def t_score(term: str) -> Column:
        df = dfreq.get(term, 0)
        tf = F.when(F.col("term") == term, F.col("tf")).otherwise(F.lit(0))
        idf_num = F.lit(2 * n - 2 * df + 1)
        idf_den = F.lit(2 * df + 1)
        tf_num = F.lit(10 * s) * tf
        tf_den = F.lit(10 * s) * tf + F.lit(3 * s) + F.lit(9 * n) * F.col("dl")
        return F.sum((idf_num * tf_num).cast("double") / (idf_den * tf_den).cast("double"))

    # Pivot each term's contribution into its own aggregate, then add in
    # a fixed order — bitwise equal to the inline scorer's term chain.
    agg_cols = [t_score(t).alias(f"s_{i}") for i, t in enumerate(query_terms)]
    per_doc = postings.groupBy("doc_id").agg(*agg_cols)
    score = reduce(add, [F.col(f"s_{i}") for i in range(len(query_terms))])
    return _ranked_topk(per_doc.select("doc_id", score.alias("score")), k)


def append_to_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold a NEW document batch into a persisted inverted index: the
    batch is tokenized with the index's pinned bucket count, its
    postings APPEND under the existing bucket partitions, and the
    corpus stats sidecar advances by the batch's doc/token counts — so
    BM25 idf and avgdl stay corpus-accurate without re-reading a byte
    of the existing postings.  The LSH-index append contract
    (`dedup.append_to_lsh_index`): continuous crawl ingestion costs
    O(batch), and a query after append is IDENTICAL to a query against
    a from-scratch rebuild over the union (pytest parity).

    Caller contract: batch doc_ids must be new (re-appending an
    existing doc would double its postings, like any append-only log —
    dedup upstream, e.g. `start_crawl_dedup_stream`).
    """
    spark = docs.sparkSession
    stats = index_store.params(spark, path, index_store.BM25)
    index_store.append(
        _postings(docs, text_col, id_col, stats["n_buckets"]),
        path,
        index_store.BM25,
        stats,
    )
    batch = _length_stats(docs, text_col)
    index_store.write_params(
        spark,
        path,
        index_store.BM25,
        {
            "n_docs": stats["n_docs"] + batch["n_docs"],
            "sum_len": stats["sum_len"] + batch["sum_len"],
            "n_buckets": stats["n_buckets"],
            "id_type": stats.get("id_type", "bigint"),
        },
    )
