"""Physical-plan audit — the "would this survive 100×?" check, mechanized.

For each audited query this tool renders the formatted Catalyst plan and
asserts the scale invariants the design claims:

* ``pushdown``   — the parquet scan carries PushedFilters (point/slab
                   queries never scan the table);
* ``pruned``     — the scan reads a column subset (ReadSchema is narrower
                   than the table), i.e. column pruning reached the scan;
* ``broadcast``  — small-dim joins chose BroadcastHashJoin, not a
                   shuffled join;
* ``no_shuffle`` — the plan has zero shuffle exchanges (narrow
                   pipelines must stay narrow);
* ``max_shuffles=N`` — budget for how many exchanges the plan may
                   contain (a regression here = an accidental extra
                   shuffle at 100 TB);
* ``codegen``    — at least one WholeStageCodegen span (the hot path is
                   JVM-compiled, not interpreted).

Run:  python tools/audit_plans.py [sf_dir] [--write-md PLANS.md]
Exits non-zero on any violated invariant.  Also wired into tests/.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    from atlas_upscaling_dask_spark.plans.estimate import explain

    return explain(df)


def final_plan_of(df) -> str:
    """Execute the frame (sf0.001 — cheap) and render the FINAL adaptive
    plan: only after execution does AQE materialize its re-planned tree,
    including WholeStageCodegen annotations and any runtime join
    downgrades/upgrades."""
    df.collect()
    return str(df._jdf.queryExecution().executedPlan())


def count_shuffles(plan: str) -> int:
    # formatted mode: exchange nodes appear as "(N) Exchange"; their
    # Arguments line distinguishes hash/range/single partitioning from
    # broadcast (BroadcastExchange is its own node name).
    return len(re.findall(r"\(\d+\) Exchange", plan))


# the partition-from-work fixture spread (r12): a group-hash
# REPARTITION_BY_NUM of a SINGLE-COLUMN id frame, keyed
# (id - (id % group)).  Matched exactly so `spread_exchanges` exempts
# only this intended exchange — any other exchange sneaking into a
# tight-budget row still fails the audit (r13, advice item 3).
_SPREAD_EXCHANGE_RE = re.compile(
    r"\(\d+\) Exchange\s*\nInput \[1\]:[^\n]*\n"
    r"Arguments: hashpartitioning\(\(\w+#\d+L? - \(\w+#\d+L? % \d+\)\), "
    r"\d+\), REPARTITION_BY_NUM"
)


def count_spread_exchanges(plan: str) -> int:
    return len(_SPREAD_EXCHANGE_RE.findall(plan))


def check(name: str, plan: str, rules: dict) -> list[str]:
    errs = []
    if "spread_exchanges" in rules:
        allowed = rules["spread_exchanges"]
        found = count_spread_exchanges(plan)
        if found != allowed:
            errs.append(
                f"expected exactly {allowed} group-hash spread exchange(s), "
                f"found {found}"
            )
        # the asserted spread exchanges are exempt from the shuffle
        # budget below; rewrite the plan so count_shuffles no longer
        # sees them.  Guarded: re.sub's count=0 means "replace all".
        if allowed > 0:
            plan = _SPREAD_EXCHANGE_RE.sub(
                "(0) SpreadExempt", plan, count=allowed
            )
    if rules.get("pushdown") and "PushedFilters: [" not in plan.replace(
        "PushedFilters: []", ""
    ):
        errs.append("no pushed filters reached a scan")
    if rules.get("broadcast") and "BroadcastHashJoin" not in plan:
        errs.append("expected a broadcast hash join")
    if rules.get("no_shuffle") and count_shuffles(plan) > 0:
        errs.append(f"expected 0 shuffles, found {count_shuffles(plan)}")
    if "max_shuffles" in rules and count_shuffles(plan) > rules["max_shuffles"]:
        errs.append(
            f"shuffle budget exceeded: {count_shuffles(plan)} > {rules['max_shuffles']}"
        )
    if rules.get("codegen") and "WholeStageCodegen" not in plan:
        errs.append("no WholeStageCodegen span")
    if rules.get("no_python_udf") and re.search(r"BatchEvalPython|PythonUDF", plan):
        errs.append("row-at-a-time Python UDF in plan")
    if rules.get("no_single_partition") and "SinglePartition" in plan:
        errs.append(
            "plan funnels through Exchange SinglePartition (global sort/window)"
        )
    if "single_partition_budget" in rules:
        n = len(re.findall(r"Exchange SinglePartition", plan))
        if n > rules["single_partition_budget"]:
            errs.append(
                "SinglePartition budget exceeded: "
                f"{n} > {rules['single_partition_budget']} (a data-sized "
                "frame may be funneling through one partition)"
            )
    return errs


# name -> (builder, rules).  Builders take (spark, sf_dir).
def audited_queries():
    # r12 note: every documents-derived media fixture now group-hash
    # repartitions its one-split doc_id frame before the codec kernels
    # (partition-from-work; the exchange moves 8-byte ids, never
    # payloads).  r13: those rows assert that exchange EXACTLY via
    # ``spread_exchanges: 1`` (matched against the repartition's
    # hashpartitioning expression) and keep their original tight
    # ``max_shuffles`` for everything else, so an unrelated accidental
    # exchange fails the audit again.
    from pyspark.sql import functions as F

    from atlas_upscaling_dask_spark.suite import QUERIES

    def point_lookup(spark, sf_dir):
        # Q1 point query on a real parquet table: the filter must reach
        # the scan as PushedFilters so row-group stats prune I/O.
        from atlas_upscaling_dask_spark.tables import load_table

        li = load_table(spark, sf_dir, "lineitem")
        return li.filter(
            (F.col("l_orderkey") == 1) & (F.col("l_linenumber") == 1)
        ).select("l_orderkey", "l_quantity")

    return {
        "point_lookup_pushdown": (point_lookup, {"pushdown": True, "pruned": True}),
        # flagship narrow upscale: zero shuffles, codegen'd
        "upscale_lineitem": (
            QUERIES["upscale_lineitem"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # broadcast dim join: no shuffled join for a 25-row dim
        "dim_join_left": (
            QUERIES["dim_join_left"],
            {"broadcast": True, "codegen": True, "max_shuffles": 0},
        ),
        # TPC-H Q1-style agg: exactly one exchange (partial→final agg)
        "tpch_q1_pricing": (
            QUERIES["tpch_q1_pricing"],
            {"max_shuffles": 1, "pushdown": True, "codegen": True},
        ),
        # 3-way join + top-k: two big-side exchanges + one agg exchange;
        # top-k must be TakeOrderedAndProject, never a global sort
        "tpch_q3_shipping": (
            QUERIES["tpch_q3_shipping"],
            {"max_shuffles": 3, "pushdown": True, "codegen": True},
        ),
        # composed doc pipeline: narrow select + ONE window shuffle
        "doc_pipeline": (
            QUERIES["doc_pipeline"],
            {"max_shuffles": 2, "codegen": True, "no_python_udf": True},
        ),
        # Q6: filter+agg only — both predicates must reach the scan
        "tpch_q6_forecast": (
            QUERIES["tpch_q6_forecast"],
            {"max_shuffles": 1, "pushdown": True, "codegen": True},
        ),
        # Q13: join + per-cust agg + distribution agg; the per-cust agg
        # must reuse the join's hash partitioning (no extra exchange)
        "tpch_q13_custdist": (
            QUERIES["tpch_q13_custdist"],
            {"max_shuffles": 3, "codegen": True},
        ),
        # majority-vote downsample: block-count agg + argmax window,
        # both keyed on the block — two exchanges, no more
        "vox_downsample_mode": (
            QUERIES["vox_downsample_mode"],
            {"max_shuffles": 2, "codegen": True},
        ),
        # fixed-point centroids: one explode + one (label,dim) agg
        "embed_centroids": (
            QUERIES["embed_centroids"],
            {"max_shuffles": 2, "codegen": True, "no_python_udf": True},
        ),
        # MinHash scale path: signature phase is narrow; whole pipeline
        # = spread repartition + band join (2 sides from one exchange
        # output) + pair agg.  Called with LIBRARY DEFAULTS on purpose:
        # the default backend must be the xxhash64 scale path, so this
        # entry also pins "no unpartitioned window / global sort" — a
        # dictionary dense_rank sneaking back into the default would
        # trip no_single_partition.
        "dedup_minhash_scale": (
            lambda spark, sf_dir: __import__(
                "atlas_upscaling_dask_spark.extensions.dedup",
                fromlist=["minhash_lsh_pairs"],
            ).minhash_lsh_pairs(
                __import__(
                    "atlas_upscaling_dask_spark.tables", fromlist=["load_table"]
                ).load_table(spark, sf_dir, "documents"),
            ),
            {"max_shuffles": 4, "no_python_udf": True, "no_single_partition": True},
        ),
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
        "pareto_orders": (
            QUERIES["pareto_orders"],
            {
                "max_shuffles": 4,
                "no_python_udf": True,
                "single_partition_budget": 1,
            },
        ),
        # deterministic LCG shuffle + repetition signals: pure narrow
        # projections — reshuffling/rescoring 100 TB must cost zero
        # exchanges
        "train_shuffle": (
            QUERIES["train_shuffle"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        "repetition_stats": (
            QUERIES["repetition_stats"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # token packing: the running sum is windowed per shard — exactly
        # one exchange, never a global sort
        "pack_sequences": (
            QUERIES["pack_sequences"],
            {"max_shuffles": 1, "codegen": True, "no_python_udf": True},
        ),
        # per-key grid + forward fill: bounds agg + one per-key window
        "resample_ffill": (
            QUERIES["resample_ffill"],
            {"max_shuffles": 3, "codegen": True, "no_python_udf": True},
        ),
        # contamination screen: shingle distinct, totals, semi-join,
        # per-doc agg — bounded exchange count
        "contamination": (
            QUERIES["contamination"],
            {"max_shuffles": 2, "codegen": True, "no_python_udf": True},
        ),
        # exact dedup: ONE shuffle on the 128-bit fingerprint, nothing
        # else — the whole-corpus dedup pass at 100 TB is a single
        # map-side-combined exchange
        "dedup_exact": (
            QUERIES["dedup_exact"],
            {"max_shuffles": 1, "codegen": True, "no_python_udf": True},
        ),
        # IVF ANN: broadcast probe join onto bucket-assigned corpus +
        # per-query top-k window — the corpus is never shuffled by
        # anything except the final k-row-per-query window
        "embed_ivf_topk": (
            QUERIES["embed_ivf_topk"],
            {"broadcast": True, "max_shuffles": 1},
        ),
        # TIFF scan → COO: grid repartition is the ONLY exchange; the
        # strip reads and the payload explode are narrow
        "vox_tiff_scan": (
            QUERIES["vox_tiff_scan"],
            {"max_shuffles": 1},
        ),
        # Arrow-batched feature extraction + posexplode: fully narrow
        "multimodal_features": (
            QUERIES["multimodal_features"],
            {"no_shuffle": True},
        ),
        # linear quality model: weights fold into ONE codegen'd narrow
        # projection — model scoring at 100 TB costs zero exchanges
        "model_quality_screen": (
            QUERIES["model_quality_screen"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # domain mixing: downsample = ONE window shuffle keyed by source;
        # upsample = narrow projection + explode, zero exchanges
        "mixture_resample": (
            QUERIES["mixture_resample"],
            {"max_shuffles": 1, "codegen": True, "no_python_udf": True},
        ),
        "mixture_upsample": (
            QUERIES["mixture_upsample"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # full training-set assembly: dedup window + decontamination
        # joins + pack window — bounded, and NEVER a global sort
        "prepare_training_set": (
            QUERIES["prepare_training_set"],
            {"max_shuffles": 5, "codegen": True, "no_python_udf": True},
        ),
        # vocab induction: ONE count shuffle; the top-k boundary is a
        # rank filter, never a global sort of the vocabulary
        "vocab_topk": (
            QUERIES["vocab_topk"],
            {"max_shuffles": 2, "codegen": True, "no_python_udf": True},
        ),
        # pack assembly: per-shard offset window + per-pack aggregate —
        # two exchanges, in-aggregate sort_array instead of a global sort
        "assemble_packs": (
            QUERIES["assemble_packs"],
            {"max_shuffles": 2, "codegen": True, "no_python_udf": True},
        ),
        # corpus dashboard: rollup + countDistinct expand — bounded
        "corpus_report": (
            QUERIES["corpus_report"],
            {"max_shuffles": 3, "codegen": True, "no_python_udf": True},
        ),
        # CDC apply: union + ONE keyed max-struct aggregate — the same
        # single-shuffle lower bound a warehouse MERGE pays, with
        # map-side partials (an election window would forfeit them)
        "cdc_apply": (
            QUERIES["cdc_apply"],
            {"max_shuffles": 1, "codegen": True, "no_python_udf": True},
        ),
        # Morton codes: pure shift/mask projection — zero exchanges
        "vox_zorder_code": (
            QUERIES["vox_zorder_code"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # substring-dup detection: narrow windowed explode + one
        # aggregate (countDistinct expand) — fixed-width md5 keys
        "duplicate_windows": (
            QUERIES["duplicate_windows"],
            {"max_shuffles": 2, "codegen": True, "no_python_udf": True},
        ),
        # chunk-packed decimation: per-chunk stride view — the bulk
        # pyramid step must cost ZERO exchanges at any volume size
        "decimate_chunks_bulk": (
            lambda spark, sf_dir: _bulk(spark, "decimate"),
            {"no_shuffle": True, "no_python_udf": True},
        ),
        # chunk-packed mode-downsample: chunk-aligned blocks — zero
        # exchanges, same contract as decimation
        "mode_chunks_bulk": (
            lambda spark, sf_dir: _bulk(spark, "mode"),
            {"no_shuffle": True, "no_python_udf": True},
        ),
        # chunk-packed outline: face halo exchange — exactly ONE hash
        # exchange (core ∪ faces on the chunk key); a second exchange
        # here would mean the whole volume moves twice at 100 TB
        "outline_chunks_bulk": (
            lambda spark, sf_dir: _bulk(spark, "outline"),
            {"max_shuffles": 1, "no_python_udf": True},
        ),
        # chunk-packed upscale from a stored volume: fully narrow
        "upscale_chunks_bulk": (
            lambda spark, sf_dir: _bulk(spark, "upscale"),
            {"no_shuffle": True, "no_python_udf": True},
        ),
        # binary point lookup on the packed store: range predicates
        # pushed to the scan, zero Python, zero shuffle — interactive
        # latency is a pruned single-row-group read at any volume size
        "point_lookup_chunks_binary": (
            lambda spark, sf_dir: _bulk(spark, "point"),
            {"pushdown": True, "no_shuffle": True, "no_python_udf": True, "codegen": True},
        ),
        # aligned rechunk, fine direction: pure per-row split — narrow
        "split_chunks_bulk": (
            lambda spark, sf_dir: _bulk(spark, "split"),
            {"no_shuffle": True, "no_python_udf": True},
        ),
        # aligned rechunk, coarse direction: ONE packed-payload shuffle
        # on the coarse chunk key (4 B/voxel, never the 28 B COO rows)
        "merge_chunks_bulk": (
            lambda spark, sf_dir: _bulk(spark, "merge"),
            {"max_shuffles": 1, "no_python_udf": True},
        ),
        # BM25: one corpus-stats reduce + broadcast 1-row stats + narrow
        # scoring; top-k must be TakeOrderedAndProject, never a sort
        "bm25_topk": (
            QUERIES["bm25_topk"],
            {"max_shuffles": 2, "codegen": True, "no_python_udf": True},
        ),
        # KMV sketch build+merge+exact-NDV join: every exchange is
        # partial-aggregated or keyed; sketches themselves are KB-sized
        "ndv_sketch": (
            QUERIES["ndv_sketch"],
            {"max_shuffles": 8, "codegen": True, "no_python_udf": True},
        ),
        # HLL twin: duplicate-insensitive register max needs NO distinct
        # — (group, bucket) partial agg + group collect + the merge's
        # explode re-agg; everything past the scan is register-sized
        "hll_ndv": (
            QUERIES["hll_ndv"],
            {"max_shuffles": 8, "codegen": True, "no_python_udf": True},
        ),
        # zscore pattern doubled: two tiny stats aggs broadcast back —
        # the event-sized scan side must never shuffle
        "seasonal_decompose": (
            QUERIES["seasonal_decompose"],
            {"max_shuffles": 2, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # covariance: the only exchange is the d(d+1)/2-per-partition
        # partial frame's aggregation — partition-count-sized, never
        # data-sized (the Arrow kernel is the sanctioned Python path)
        "embed_covariance": (
            QUERIES["embed_covariance"],
            {"max_shuffles": 1},
        ),
        # composed decompose -> zscore: three tiny stats aggs, ALL
        # broadcast back; the event scan still never shuffles
        "seasonal_anomalies": (
            QUERIES["seasonal_anomalies"],
            {"max_shuffles": 3, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # degree-orientation triangles: equi-joins only over the
        # CHECKPOINTED oriented edge list — a cartesian anywhere here
        # would be quadratic at scale
        "graph_triangles": (
            QUERIES["graph_triangles"],
            {"max_shuffles": 10, "codegen": True, "no_python_udf": True},
        ),
        # integer PageRank: each unrolled round localCheckpoints (plan
        # stays linear in n_iter), so the audited final fragment is just
        # the top-k — which must add NO exchange of its own
        "graph_pagerank": (
            QUERIES["graph_pagerank"],
            {"max_shuffles": 2, "no_python_udf": True},
        ),
        # A-ES weighted sample: narrow priority projection + per-
        # partition heaps — sampling must never globally sort or shuffle
        "weighted_sample": (
            QUERIES["weighted_sample"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # linear gap-fill: bounds agg + one per-key window — the grid
        # explode and interpolation stay inside those two exchanges
        "resample_interpolate": (
            QUERIES["resample_interpolate"],
            {"max_shuffles": 3, "codegen": True, "no_python_udf": True},
        ),
        # materialized-view maintenance: base partial + delta partial +
        # state merge — three keyed aggregations, map-side partials; at
        # steady state only the delta partial and the merge run
        "incremental_agg": (
            QUERIES["incremental_agg"],
            {"max_shuffles": 4, "codegen": True, "no_python_udf": True},
        ),
        # snapshot diff: ONE co-partitioned full-outer join (both sides
        # hashed on the key) — diff output is churn-sized
        "table_diff": (
            QUERIES["table_diff"],
            {"max_shuffles": 3, "codegen": True, "no_python_udf": True},
        ),
        # mergeable quantile sketch: rank windows + collect + the
        # sample-sized estimate — every exchange keyed, none data-sized
        # after the first
        "quantile_sketch": (
            QUERIES["quantile_sketch"],
            {"max_shuffles": 8, "codegen": True, "no_python_udf": True},
        ),
        # content-defined span dedup: segmentation is fully array-side;
        # the only exchanges are the span-hash aggregation's two phases
        # (COUNT DISTINCT doc_id: partial on (hash, doc) then final on
        # hash — both segment-row-sized, never token-row-sized)
        "duplicate_spans": (
            QUERIES["duplicate_spans"],
            {"max_shuffles": 2, "codegen": True, "no_python_udf": True},
        ),
        # bigram LM: count-table aggs + scoring joins, all keyed on
        # bounded vocab keys; V must arrive broadcast, never collected
        "lm_score": (
            QUERIES["lm_score"],
            {"max_shuffles": 6, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # BPE iteration-1 pair table: word-count exchange + pair-count
        # exchange + the ≤20-row rank window
        "bpe_pair_counts": (
            QUERIES["bpe_pair_counts"],
            {"max_shuffles": 4, "codegen": True, "no_python_udf": True},
        ),
        # EWMA: rank window + key-partitioned self-join + final agg —
        # every wide op keys on user_id, so the exchanges collapse
        "ewma_events": (
            QUERIES["ewma_events"],
            {"max_shuffles": 4, "codegen": True, "no_python_udf": True},
        ),
        # z-score screen: ONE stats exchange; the event-side scan joins
        # broadcast and never shuffles
        "zscore_outliers": (
            QUERIES["zscore_outliers"],
            {"max_shuffles": 1, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # context-window chunking: pure narrow explode
        "chunk_documents": (
            QUERIES["chunk_documents"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # forward as-of: same union+window shape as backward — one
        # exchange per side, never a quadratic intermediate
        "asof_forward": (
            QUERIES["asof_forward"],
            {"max_shuffles": 3, "codegen": True, "no_python_udf": True},
        ),
        # PQ ADC scan (r13: fused Arrow kernel, one all-covering
        # bucket): encode + LUT scoring + partition-local top-k in ONE
        # narrow pass; the single exchange is the per-query ranking
        # window — |Q|·|corpus| pair rows never move (was: 2 exchanges
        # + 2 broadcasts + a pair aggregation)
        "embed_pq_topk": (
            QUERIES["embed_pq_topk"],
            {"max_shuffles": 1, "no_python_udf": True},
        ),
        # IVFADC: assignment+encode+LUT scoring fused into ONE narrow
        # Arrow kernel emitting partition-local top-k — the single
        # exchange is the final per-query ranking window over
        # ≤ |Q|·k·n_partitions rows.  A second exchange here would mean
        # query×corpus pair rows are moving again (the pq_topk
        # scale-killer this operator replaces).
        "embed_ivf_pq_topk": (
            QUERIES["embed_ivf_pq_topk"],
            {"max_shuffles": 1, "no_python_udf": True},
        ),
        # SemDeDup: the pair search must be the bucket equi-join (two
        # keyed exchanges: bucket join + drop-set distinct) — a cross
        # product here would be corpus² at scale
        "semantic_dedup": (
            QUERIES["semantic_dedup"],
            {"max_shuffles": 2},
        ),
        # audio codec row: encode + decode + features are consecutive
        # Arrow kernels over the same rows — fully narrow, zero shuffle
        "multimodal_audio": (
            QUERIES["multimodal_audio"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # profiling: ONE aggregation (Expand partial + final) — per-
        # column job loops would show up as extra exchanges here
        "profile_lineitem": (
            QUERIES["profile_lineitem"],
            {"max_shuffles": 2, "no_python_udf": True},
        ),
        # z-scored stats broadcast back; scan side never shuffles — and
        # the histogram/winsorize/centroid group share the same shape
        "winsorize_quantity": (
            QUERIES["winsorize_quantity"],
            {"max_shuffles": 1, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # gaps-and-islands: one key-partitioned lag window
        "sequence_gaps": (
            QUERIES["sequence_gaps"],
            {"max_shuffles": 1, "codegen": True, "no_python_udf": True},
        ),
        # cumulative users: first-seen exchange + day agg + the running
        # sum over the tiny day frame (single-partition window is fine
        # at |days| rows)
        "cumulative_users": (
            QUERIES["cumulative_users"],
            {"max_shuffles": 4, "codegen": True, "no_python_udf": True},
        ),
        # edit-distance top-k must be TakeOrderedAndProject, not a sort
        "fuzzy_lookup": (
            QUERIES["fuzzy_lookup"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # RAG-prep composition: dedup window (1, materialized once via
        # the checkpoint — without it the gate+dedup subtree re-executes
        # per consumer: 20 exchanges) + the LM count/score chain (~8,
        # all keyed on vocab-bounded keys) + score join + 1-row mean
        # agg; chunk/split stages add NO exchange
        "prepare_rag_corpus": (
            QUERIES["prepare_rag_corpus"],
            {"max_shuffles": 12, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # SCD2 history build: lag window, island groupBy, and lead
        # window ALL cluster on the key — Spark reuses the one hash
        # exchange (subset-key clustering) for all three
        "scd2_user_segments": (
            QUERIES["scd2_user_segments"],
            {"max_shuffles": 1, "codegen": True, "no_python_udf": True},
        ),
        # SCD2 read side: build (1 exchange; same-instant dedup agg
        # reuses the key clustering) + as-of union scan (1 exchange on
        # the union frame) — NEVER a per-fact range probe or a
        # fact×interval join
        "scd2_asof_lookup": (
            QUERIES["scd2_asof_lookup"],
            {"max_shuffles": 2, "codegen": True, "no_python_udf": True},
        ),
        # Deequ-style suite: every constraint folds into ONE
        # aggregation (Expand partial -> final, 2 exchanges); a
        # per-constraint job loop would blow this budget immediately
        "check_constraints_lineitem": (
            QUERIES["check_constraints_lineitem"],
            {"max_shuffles": 2, "codegen": True, "no_python_udf": True},
        ),
        # drift: 1-row min/max broadcast (a BroadcastNestedLoopJoin —
        # broadcast, but not the BroadcastHashJoin the rule matches) +
        # one scan per side (each a (column,bin) count agg) +
        # full-outer join of two tiny histogram frames +
        # |cols·bins|-row window — 5 exchanges, none data-sized after
        # the two counts
        "profile_drift_lineitem": (
            QUERIES["profile_drift_lineitem"],
            {"max_shuffles": 5, "codegen": True, "no_python_udf": True},
        ),
        # spectral fingerprinting: synth + decode + DFT in ONE narrow
        # Arrow pass — zero exchanges, like its image twin
        "audio_fingerprint_values": (
            QUERIES["audio_fingerprint_values"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # per-frame video hashing: synth + page decode + DCT in one
        # narrow Arrow pass after the single group-hash id exchange
        # (r12 — see image_phash_values)
        "video_frame_hashes": (
            QUERIES["video_frame_hashes"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # hashing-trick featurization: explode → doc_id repartition →
        # count agg + norm window both REUSE that one exchange
        "hash_features": (
            QUERIES["hash_features"],
            {"max_shuffles": 1, "codegen": True, "no_python_udf": True},
        ),
        # MAD: two tiny grouped medians broadcast back onto the scan —
        # the data-sized side never shuffles (3 exchanges: 2 stats aggs
        # + the med-join feeding the second agg)
        "mad_outliers": (
            QUERIES["mad_outliers"],
            {"max_shuffles": 3, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # rolling median: ONE keyed window exchange; per-row state is
        # the O(window) frame array, never a per-key global sort
        "rolling_median": (
            QUERIES["rolling_median"],
            {"max_shuffles": 1, "codegen": True, "no_python_udf": True},
        ),
        # map HOF battery: pure narrow projection — zero exchanges
        "map_functions": (
            QUERIES["map_functions"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # pHash: decode → DCT → hash is ONE narrow Arrow pass after the
        # single group-hash exchange of the one-split doc_id frame
        # (r12 — partition-from-work, same shape as image_phash_webp:
        # the exchange moves 8-byte ids, never payloads)
        "image_phash_values": (
            QUERIES["image_phash_values"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # the JPEG twin: from-spec Huffman+iDCT decode inside the same
        # single narrow Arrow pass — format changes, plan shape doesn't
        "image_phash_jpeg": (
            QUERIES["image_phash_jpeg"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # bit-exact JPEG decode gate row: encode → decode → project,
        # one narrow pass, nothing moves
        "jpeg_decode_blocks": (
            QUERIES["jpeg_decode_blocks"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # header-only image profiling: marker walk, no entropy decode,
        # one narrow pass
        "jpeg_dims": (
            QUERIES["jpeg_dims"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # progressive (SOF2) decode gate row: same narrow single pass
        "jpeg_decode_progressive": (
            QUERIES["jpeg_decode_progressive"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # the GIF twin: from-spec LZW decode + palette lookup inside
        # the same narrow Arrow pass, after the one group-hash id
        # exchange (r12 — see image_phash_values)
        "gif_phash_values": (
            QUERIES["gif_phash_values"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # animated-GIF frame sampling: sequential composite per payload
        # but still ONE narrow pass over the corpus — no exchange
        "gif_anim_frame_digests": (
            QUERIES["gif_anim_frame_digests"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # header-only GIF profiling: block walk, no LZW work, narrow
        "gif_info": (
            QUERIES["gif_info"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # MJPEG-AVI frame fingerprints: idx1 random access + from-spec
        # JPEG decode, still ONE narrow Arrow pass over the corpus
        "avi_frame_hashes": (
            QUERIES["avi_frame_hashes"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # header-only AVI census: hdrl/idx1 walk, zero JPEG work
        "avi_info": (
            QUERIES["avi_info"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # header-only MP4 census: ISO-BMFF box walk, decode never runs
        "mp4_info": (
            QUERIES["mp4_info"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # unified mixed-corpus census: magic dispatch to 7 per-format
        # header parsers, one narrow pass, zero entropy decode
        "media_census": (
            QUERIES["media_census"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # link-graph extraction: codegen'd href extract + explode +
        # RFC 3986 resolution — zero Python, zero exchanges
        "link_graph_edges": (
            QUERIES["link_graph_edges"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # composed crawl PageRank: extraction is narrow; the audited
        # exchanges are the edge-distinct + per-iteration rank aggs
        # (same budget shape as graph_pagerank + 1 for the distinct)
        "crawl_pagerank": (
            QUERIES["crawl_pagerank"],
            {"max_shuffles": 3, "no_python_udf": True},
        ),
        # sitemap URL discovery: codegen'd loc extract + explode +
        # canonicalize — zero Python, zero exchanges
        "sitemap_urls": (
            QUERIES["sitemap_urls"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # URL canonicalization: pure built-in/HOF projection — zero
        # exchanges AND zero Python (codegen end to end)
        "url_canonicalize": (
            QUERIES["url_canonicalize"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # eTLD+1: broadcast public-suffix joins + ONE hash agg — the
        # only exchange is the final group-by
        "url_domain_counts": (
            QUERIES["url_domain_counts"],
            {"broadcast": True, "max_shuffles": 1, "no_python_udf": True},
        ),
        # canonical-URL dedup: narrow canonicalize + one hash agg
        "url_dedup_groups": (
            QUERIES["url_dedup_groups"],
            {"max_shuffles": 1, "codegen": True, "no_python_udf": True},
        ),
        # WARC record census: narrow framing walk + one hash agg
        "warc_census": (
            QUERIES["warc_census"],
            {"max_shuffles": 1, "spread_exchanges": 1},
        ),
        # WARC → HTML title/text: container kernel + codegen'd regex
        # extraction, zero exchanges end to end
        "warc_html_extract": (
            QUERIES["warc_html_extract"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # charset-aware variant: BOM/header/meta sniff + fallback
        # decode, still one narrow chain
        "warc_charset_extract": (
            QUERIES["warc_charset_extract"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # boilerplate removal: split/transform/filter HOFs — zero
        # Python, zero exchanges, codegen end to end
        "main_content_extract": (
            QUERIES["main_content_extract"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # page metadata (OpenGraph/description/canonical-link/lang):
        # one narrow regexp projection
        "page_metadata": (
            QUERIES["page_metadata"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # canonical-link dedup: narrow double-canonicalize + one agg
        "url_dedup_canonical": (
            QUERIES["url_dedup_canonical"],
            {"max_shuffles": 1, "codegen": True, "no_python_udf": True},
        ),
        # full-PSL eTLD+1 (wildcards + exceptions): every rule kind is
        # a broadcast hash join, zero exchanges end to end
        "url_psl_domains": (
            QUERIES["url_psl_domains"],
            {"broadcast": True, "no_shuffle": True, "no_python_udf": True},
        ),
        # redirect-chain resolution: pointer doubling — the VISIBLE
        # plan is the last doubling round (localCheckpoint truncates
        # earlier rounds), one self-join; log2(max_hops) such rounds
        # total, never a per-hop walk
        "redirect_chains": (
            QUERIES["redirect_chains"],
            {"max_shuffles": 3, "no_python_udf": True},
        ),
        # composed frontier transform: redirect doubling (log-bounded)
        # + canonical join-back + BROADCAST politeness join; budget
        # covers the doubling rounds plus the join-back
        "crawl_frontier": (
            QUERIES["crawl_frontier"],
            {"max_shuffles": 6, "no_python_udf": True},
        ),
        # sitemap <url> entries: one regex/HOF projection + explode
        "sitemap_entries": (
            QUERIES["sitemap_entries"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # RFC 9111 freshness → recrawl times: pure expressions
        "recrawl_schedule": (
            QUERIES["recrawl_schedule"],
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # WebP container census: one Arrow kernel pass, no exchanges
        "webp_info": (
            QUERIES["webp_info"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # VP8L decode through the DCT hash: ONE group-hash exchange
        # (codec parallelism from the work, not the file layout), then
        # kernel-only
        "image_phash_webp": (
            QUERIES["image_phash_webp"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # animated WebP compositing digests: ONE group-hash exchange
        # (r10 verdict #6: the partition-from-work lesson applied —
        # the sf-dir documents table is one input split, and without
        # the repartition every ANMF kernel would serialize on a core)
        "webp_anim_frame_digests": (
            QUERIES["webp_anim_frame_digests"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # VP8 lossy keyframe decode digest: same shape — one
        # group-hash exchange, then kernel-only
        "webp_lossy_decode": (
            QUERIES["webp_lossy_decode"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # lossy-with-alpha stills (ALPH + VP8): one group-hash
        # exchange, then kernel-only
        "webp_lossy_alpha_digest": (
            QUERIES["webp_lossy_alpha_digest"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # PDF census: one group-hash exchange, then header-only kernel
        "pdf_info": (
            QUERIES["pdf_info"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # PDF text extraction: one group-hash exchange, linear-scan +
        # inflate kernel (the filter on encrypted groups is codegen)
        "pdf_text_extract": (
            QUERIES["pdf_text_extract"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # TFRecord scan half of the roundtrip: one path-repartition
        # exchange, then executor-local framing + proto decode
        "tfrecord_roundtrip": (
            QUERIES["tfrecord_roundtrip"],
            {"max_shuffles": 1},
        ),
        # per-host Crawl-delay: kernel over the tiny robots table
        "robots_crawl_delays": (
            QUERIES["robots_crawl_delays"],
            {"no_shuffle": True},
        ),
        # error containment census: kernel + one hash agg
        "warc_errors": (
            QUERIES["warc_errors"],
            {"max_shuffles": 1, "spread_exchanges": 1},
        ),
        # CDXJ capture index: archive -> index rows is ONE narrow
        # kernel pass, zero exchanges (sorting/bucketing the index is
        # the CALLER's layout decision at 100 TB)
        "warc_cdx_index": (
            QUERIES["warc_cdx_index"],
            {"max_shuffles": 0, "spread_exchanges": 1, "no_python_udf": False},
        ),
        # .warc.zst container scan: kernel + one hash agg; the zstd /
        # brotli decode is executor-local (pyarrow codecs), no extra
        # exchange vs the plain-warc row
        "warc_zstd_scan": (
            QUERIES["warc_zstd_scan"],
            {"max_shuffles": 1, "spread_exchanges": 1},
        ),
        # GZIP transport adds no plan shape vs the plain tfrecord row
        "tfrecord_roundtrip_gzip": (
            QUERIES["tfrecord_roundtrip_gzip"],
            {"max_shuffles": 1},
        ),
        # composed WARC -> recrawl schedule: kernel + pure projection
        "warc_recrawl_schedule": (
            QUERIES["warc_recrawl_schedule"],
            {"max_shuffles": 0, "spread_exchanges": 1},
        ),
        # the composed crawl-hygiene chain: WARC → responses →
        # canonical-URL dedup — one group-by is the only exchange
        "warc_url_dedup": (
            QUERIES["warc_url_dedup"],
            {"max_shuffles": 1, "spread_exchanges": 1},
        ),
        # RFC 9309 gate: rules BROADCAST to the URL side, one verdict
        # group-by — URLs never ship to the robots table
        "robots_filter": (
            QUERIES["robots_filter"],
            {"broadcast": True, "max_shuffles": 1},
        ),
        # multi-index Hamming join: band equi-join + pair distinct —
        # never an all-pairs product (budget covers the non-broadcast
        # shape; at sf the band sides broadcast → measured 1).  No
        # spread_exchanges rule: hamming_near_dup localCheckpoints its
        # input, so the fixture's group-hash id exchange sits behind
        # the checkpoint and never appears in this plan
        "image_phash_neardup": (
            QUERIES["image_phash_neardup"],
            {"max_shuffles": 3},
        ),
        # AllPairs/PPJoin exact set-similarity: candidate generation is
        # an equi-join on rare prefix tokens, NEVER a cross product.
        # The sorted-array table is localCheckpoint'd (3 consumers →
        # computed once), so the audited plan covers the candidate +
        # verify stages: prefix join, pair distinct, two array joins —
        # all equi-joins on (tok | d1 | d2), zero cartesians; budget 4
        # (at sf the optimizer broadcasts the small sides → measured 1)
        "setsim_prefix_join": (
            QUERIES["setsim_prefix_join"],
            # +1 exchange: the explicit verify-stage repartition of the
            # candidate pair frame (CPU-bound array_intersect stage)
            {"max_shuffles": 5, "codegen": True, "no_python_udf": True},
        ),
        # PassJoin exact edit-distance: candidates come from an
        # EQUI-join on (segment, length-class, index) — never a
        # cartesian (the only nested-loop is the bounded-by-contract
        # short-string bucket, len <= d).  Budget covers distinct
        # names, segment join, candidate distinct, and id expansion.
        "edit_distance_join": (
            QUERIES["edit_distance_join"],
            {"max_shuffles": 6, "codegen": True, "no_python_udf": True},
        ),
        # sorted-neighborhood blocking: the ranked frame is
        # localCheckpoint'd (one distinct + one range exchange, run
        # ONCE upstream of this audited plan — rank comes from
        # monotonically_increasing_id, not a re-shuffling window);
        # downstream: bucket join sides + id joins, all narrow
        "sorted_neighborhood": (
            QUERIES["sorted_neighborhood"],
            {"max_shuffles": 4, "codegen": True, "no_python_udf": True},
        ),
        # KMV set ops: sketch build (distinct + rank + collect) per
        # side; combining is all 1-row broadcast nested loops —
        # kilobytes, never a data-sized exchange
        "ndv_setops_sketch": (
            QUERIES["ndv_setops_sketch"],
            {"max_shuffles": 7, "codegen": True, "no_python_udf": True},
        ),
        # count-min: explode + ONE partial-aggregated count exchange
        # for the sketch, top-k heap for the probes, broadcast probe
        # join (the sketch is <= depth*width rows by construction)
        "cms_heavy_hitters": (
            QUERIES["cms_heavy_hitters"],
            {"max_shuffles": 3, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # Bloom semi-join reduction: bitmap build aggregates <=
        # m_bits/64 words; the big side is screened by BROADCAST
        # bitmap + hits joins before any exchange of matched rows
        "bloom_semi_join": (
            QUERIES["bloom_semi_join"],
            {"max_shuffles": 2, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # containment join: post-checkpoint plan is prefix-probe ⋈
        # posting + verify joins — pair-distinct exchange plus the
        # explicit narrow repartition that parallelizes the CPU-bound
        # verify; the array-table joins broadcast at this scale
        "setsim_containment_join": (
            QUERIES["setsim_containment_join"],
            {"max_shuffles": 2, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # canonical-quality dedup: components fixpoint is checkpointed;
        # the residual plan is one quality join + one cluster window
        "dedup_canonical_quality": (
            QUERIES["dedup_canonical_quality"],
            {"max_shuffles": 1, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # equi-depth histogram: range repartition + rank-offsets agg +
        # bounded (<= n_ranges rows) offsets window + final bucket agg —
        # and NEVER a global single-partition sort of the data itself
        "histogram_equidepth": (
            QUERIES["histogram_equidepth"],
            {"max_shuffles": 5, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # basket lift: distinct + size-guard join + pair agg + two item
        # joins; N is a broadcast 1-row frame (no driver round-trip)
        "market_basket_lift": (
            QUERIES["market_basket_lift"],
            {"max_shuffles": 5, "broadcast": True, "codegen": True,
             "no_python_udf": True},
        ),
        # JSONL ingest: text scan + from_json + corrupt split must stay
        # a NARROW pipeline — zero exchanges, no row-UDFs; the split is
        # a filter, never a second scan or a shuffle
        "jsonl_clean_scan": (
            _jsonl_scan,
            {"no_shuffle": True, "codegen": True, "no_python_udf": True},
        ),
        # OME-Zarr scan: fully narrow — Range-derived grid (never
        # materialized), executor-side file probe + decode.  ANY
        # exchange would mean the grid or chunk payloads started moving.
        "zarr_scan": (
            _zarr_scan,
            {"no_shuffle": True, "no_python_udf": True},
        ),
        # OME-Zarr write kernel: select → mapInArrow publishing chunk
        # files executor-side — zero shuffle (its ≤ levels×partitions
        # receipt rows are collected and summed on the driver).
        "zarr_export": (
            _zarr_export,
            {"no_shuffle": True, "no_python_udf": True},
        ),
        # K6 ordered TIFF export: exactly ONE range-sort exchange feeds
        # the driver-side plane assembler; a second exchange would mean
        # the volume moved twice before streaming out.
        "tiff_ordered_export": (
            _tiff_ordered_export,
            {"max_shuffles": 1, "no_python_udf": True, "codegen": True},
        ),
        # Zarr v3 sharded scan: Range-derived shard grid, executor-side
        # index reads + inner-chunk decode — fully narrow.
        "zarr3_scan": (
            _zarr3_scan,
            {"no_shuffle": True, "no_python_udf": True},
        ),
        # Zarr v3 sharded export: exactly ONE hash exchange co-locating
        # each shard's chunks (that IS the shard grouping); more would
        # mean payloads moved twice.
        "zarr3_export_sharded": (
            _zarr3_export,
            {"max_shuffles": 1, "no_python_udf": True},
        ),
        # Zarr v3 incremental update: the newest write path (r6) — ONE
        # hash exchange on the shard key feeding the shard-merge
        # kernel; cost must track the DELTA, so a second exchange (or
        # any store-sized movement) is a violation.
        "zarr3_update": (
            _zarr3_update,
            {"max_shuffles": 1, "no_python_udf": True},
        ),
        # MHD raw-volume scan: one wave of z-contiguous range-read
        # tasks — r7 removed a grid hash-repartition that was this
        # path's only exchange; any shuffle reappearing is a violation.
        "mhd_scan": (
            _mhd_scan,
            {"no_shuffle": True, "no_python_udf": True},
        ),
        # TIFF strip/tile scan: same contract.
        "tiff_scan": (
            _tiff_scan,
            {"no_shuffle": True, "no_python_udf": True},
        ),
    }


_SCAN_FIXTURE: dict = {}


def _jsonl_scan(spark, sf_dir: str):
    import tempfile

    from atlas_upscaling_dask_spark.sources.jsonl import (
        read_jsonl,
        split_corrupt,
        write_jsonl,
    )

    if "jsonl" not in _SCAN_FIXTURE:
        d = tempfile.mkdtemp(prefix="audit_jsonl_")
        write_jsonl(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "doc_id long, text string"
            ),
            d,
        )
        _SCAN_FIXTURE["jsonl"] = d
    clean, _quar = split_corrupt(
        read_jsonl(spark, _SCAN_FIXTURE["jsonl"], "doc_id long, text string")
    )
    return clean


def _zarr_scan(spark, sf_dir: str):
    import tempfile

    from atlas_upscaling_dask_spark.sinks.ome_zarr import (
        scan_ome_zarr,
        write_ome_zarr,
    )
    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    if "zarr" not in _SCAN_FIXTURE:
        d = tempfile.mkdtemp(prefix="audit_zarr_") + "/vol.zarr"
        meta = VolumeMeta(16, 16, 16)
        write_ome_zarr(
            synthetic_chunks(spark, meta, chunk=(8, 8, 8)), d, meta
        )
        _SCAN_FIXTURE["zarr"] = d
    return scan_ome_zarr(spark, _SCAN_FIXTURE["zarr"], 0)


def _zarr_export(spark, sf_dir: str):
    # parquet-backed chunk fixture (not synthetic_chunks, whose grid
    # repartition would count against the writer's shuffle budget)
    import tempfile

    from atlas_upscaling_dask_spark.sinks.ome_zarr import export_ome_zarr_frame

    out = tempfile.mkdtemp(prefix="audit_zarr_out_") + "/vol.zarr"
    return export_ome_zarr_frame(_chunk_table(spark), out)


def _tiff_ordered_export(spark, sf_dir: str):
    # the exact frame export_tiff() iterates (writer.py export_ordered):
    # COO voxels under one global range-sort
    from atlas_upscaling_dask_spark.volume import chunks_to_voxels

    return chunks_to_voxels(_chunk_table(spark)).orderBy("z", "y", "x")


def _zarr3_scan(spark, sf_dir: str):
    import tempfile

    from atlas_upscaling_dask_spark.sinks.zarr3 import scan_zarr3, write_zarr3
    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    if "zarr3" not in _SCAN_FIXTURE:
        d = tempfile.mkdtemp(prefix="audit_zarr3_") + "/vol.zarr"
        meta = VolumeMeta(16, 16, 16)
        write_zarr3(
            synthetic_chunks(spark, meta, chunk=(8, 8, 8)), d, meta,
            shard=(2, 2, 2),
        )
        _SCAN_FIXTURE["zarr3"] = d
    return scan_zarr3(spark, _SCAN_FIXTURE["zarr3"], 0)


def _zarr3_export(spark, sf_dir: str):
    import tempfile

    from atlas_upscaling_dask_spark.sinks.zarr3 import export_zarr3_frame

    out = tempfile.mkdtemp(prefix="audit_zarr3_out_") + "/vol.zarr"
    return export_zarr3_frame(_chunk_table(spark), out, "zstd", 1, (2, 2, 2))


def _mhd_scan(spark, sf_dir: str):
    from atlas_upscaling_dask_spark.sources.mhd import read_mhd_chunks
    from atlas_upscaling_dask_spark.suite import _mhd_fixture

    chunks, _hdr = read_mhd_chunks(spark, _mhd_fixture(), chunk=(8, 8, 8))
    return chunks


def _tiff_scan(spark, sf_dir: str):
    from atlas_upscaling_dask_spark.sources.tiff import read_tiff_chunks
    from atlas_upscaling_dask_spark.suite import _tiff_fixture

    chunks, _info = read_tiff_chunks(spark, _tiff_fixture(), chunk=(8, 8, 8))
    return chunks


def _zarr3_update(spark, sf_dir: str):
    import tempfile

    from pyspark.sql import functions as F

    from atlas_upscaling_dask_spark.sinks.zarr3 import (
        _update_zarr3_plan,
        write_zarr3,
    )
    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    if "zarr3_upd" not in _SCAN_FIXTURE:
        d = tempfile.mkdtemp(prefix="audit_zarr3_upd_") + "/vol.zarr"
        meta = VolumeMeta(16, 16, 16)
        write_zarr3(
            synthetic_chunks(spark, meta, chunk=(8, 8, 8)), d, meta,
            shard=(2, 2, 2),
        )
        _SCAN_FIXTURE["zarr3_upd"] = d
    # the delta: one changed chunk from the parquet-backed table (the
    # plan is what's audited; the kernel never executes here)
    delta = _chunk_table(spark).filter(
        (F.col("cz") == 0) & (F.col("cy") == 0) & (F.col("cx") == 0)
    )
    return _update_zarr3_plan(delta, _SCAN_FIXTURE["zarr3_upd"], 0)


_BULK_FIXTURE: dict = {}


def _chunk_table(spark):
    """Parquet-backed 16³ chunk table, written once per process — plans
    built on it isolate the audited OPERATOR's exchanges."""
    import tempfile

    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    if "path" not in _BULK_FIXTURE:
        d = tempfile.mkdtemp(prefix="audit_chunks_")
        synthetic_chunks(spark, VolumeMeta(16, 16, 16), chunk=(8, 8, 8)).write.mode(
            "overwrite"
        ).parquet(d)
        _BULK_FIXTURE["path"] = d
    return spark.read.parquet(_BULK_FIXTURE["path"])


def _bulk(spark, op: str):
    """Apply a chunk-packed bulk kernel to a parquet-backed chunk table.

    The fixture is written once per process and read back, so the audited
    plan isolates the OPERATOR's exchanges (the synthetic generator's
    grid repartition would otherwise count against the budget)."""
    from atlas_upscaling_dask_spark.operators.outline import outline_chunks
    from atlas_upscaling_dask_spark.operators.pyramid import (
        decimate_chunks,
        downsample_mode_chunks,
    )
    from atlas_upscaling_dask_spark.operators.upscale import upscale_chunks

    chunks = _chunk_table(spark)
    if op == "point":
        from atlas_upscaling_dask_spark.operators.relational import (
            point_lookup_chunks,
        )

        return point_lookup_chunks(chunks, 4, 4, 4)
    if op == "split":
        from atlas_upscaling_dask_spark.volume import split_chunks

        return split_chunks(chunks, (2, 2, 2))
    if op == "merge":
        from atlas_upscaling_dask_spark.volume import merge_chunks

        return merge_chunks(chunks, (2, 2, 2))
    if op == "decimate":
        return decimate_chunks(chunks, 2)
    if op == "mode":
        return downsample_mode_chunks(chunks, 2)
    if op == "outline":
        return outline_chunks(chunks)
    return upscale_chunks(chunks, 2)


def main() -> int:
    # positional sf_dir only — `audit_plans.py --write-md PLANS.md`
    # must not read the flag as a data directory
    positional = [
        a
        for i, a in enumerate(sys.argv[1:], 1)
        if not a.startswith("--") and sys.argv[i - 1] != "--write-md"
    ]
    sf_dir = positional[0] if positional else "/root/testdata/sf0.001"
    write_md = None
    if "--write-md" in sys.argv:
        write_md = sys.argv[sys.argv.index("--write-md") + 1]

    from atlas_upscaling_dask_spark.session import get_spark

    spark = get_spark("audit-plans")
    failures = 0
    sections = []
    for name, (builder, rules) in audited_queries().items():
        df = builder(spark, sf_dir)
        plan = plan_of(df)
        # structural rules check the pre-AQE plan; codegen only exists
        # in the executed (final adaptive) plan
        cg_rule = rules.pop("codegen", False)
        errs = check(name, plan, rules)
        if cg_rule:
            final = final_plan_of(df)
            # codegen'd operators carry the star notation *(id) in the
            # final plan (WholeStageCodegen node names only appear in
            # the formatted renderer, which AQE hides pre-execution)
            if not re.search(r"\*\(\d+\)", final):
                errs.append("no WholeStageCodegen span in final plan")
            rules["codegen"] = True
        status = "OK" if not errs else "VIOLATION"
        print(f"{status} {name}: shuffles={count_shuffles(plan)} rules={rules}")
        for e in errs:
            print(f"    - {e}")
            failures += 1
        sections.append((name, rules, plan, errs))

    if write_md:
        with open(write_md, "w") as f:
            f.write(
                "# PLANS — audited physical plans\n\n"
                "Generated by `tools/audit_plans.py` (run it to regenerate; "
                "it exits non-zero if any scale invariant is violated).\n"
            )
            for name, rules, plan, errs in sections:
                f.write(f"\n## {name}\n\nInvariants: `{rules}`")
                f.write(" — **VIOLATED**\n" if errs else " — all hold\n")
                f.write("\n```\n" + plan.strip()[:4000] + "\n```\n")
        print(f"wrote {write_md}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
