"""Plan-shape audit: assert the physical plans we designed for.

Two layers, both run over every registered query:

1. **Named audits** (``AUDITS``) — per-query must-contain /
   must-not-contain assertions: pushdown reaching the parquet scan,
   dimension joins broadcasting, top-k compiling to
   TakeOrderedAndProject / WindowGroupLimit.
2. **Registry-wide invariants** — checked on ALL queries, so a plan
   regression anywhere is as unskippable as a hash regression:
   (a) no CartesianProduct, ever;
   (b) no BroadcastNestedLoopJoin outside the declared allowlist
       (cross/theta joins and one-row scalar broadcasts);
   (c) no single-partition Window (a Window whose required child
       distribution is ``Exchange SinglePartition`` — the
       single-reducer global sort) outside the two post-aggregate
       allowlisted frames;
   (d) no explicit ``F.broadcast`` hint on an SF-growing input — every
       call site in the package must be classified sub-linear in
       ``BROADCAST_BOUNDED`` (source-level scan, since an executed
       plan cannot distinguish a hinted broadcast from an AQE one);
   (e) no Window partitioned only by bounded-enum columns over raw
       fact rows;
   (f) oracle-checked output schemas are hashable;
   (g) no Python UDF in more than one node of the executed plan
       (each node is a separate kernel pass over its input, and every
       Arrow task pays the Python worker's fixed start-up cost) outside
       ``REPEATED_UDF_ALLOWED``.

Run: ``python tools/explain_audit.py [sf_dir]``.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_twist_spark.registry import REGISTRY, _load_all_modules
from iceberg_twist_spark.session import get_spark


def cluster_in_list(component: str) -> re.Pattern:
    """The nprobe ``cluster`` IN-list inside the PartitionFilters of the
    scan of index component ``component`` — right after that scan's
    own ``component`` filter, so no other component's scan can match."""
    return re.compile(
        r"PartitionFilters: \[[^\]\n]*\(component#\d+ = "
        + re.escape(component)
        + r"\), cluster#\d+L? IN \("
    )


# name -> (must-contain, must-NOT-contain); a must-contain entry is a
# substring or a compiled pattern
AUDITS: dict[str, tuple[list[str | re.Pattern], list[str]]] = {
    # the materialized IVF index must prune by partition — the nprobe
    # cluster IN-list has to reach the scan's PartitionFilters
    "q_llm_ann_ivf_indexed": ([cluster_in_list("data")], ["SortMergeJoin"]),
    # the materialized PQ index: ADC scans the integer codes table and
    # joins the broadcast LUT — never a shuffled join, never a sort
    "q_llm_ann_pq_indexed": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # IVF-PQ index: the nprobe IN-list prunes the code files at the
    # scan, ADC is a broadcast join over codes
    "q_llm_ann_ivfpq_indexed": (
        [cluster_in_list("codes"), "BroadcastHashJoin"],
        ["SortMergeJoin"],
    ),
    "q_scan_projection": (["ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double>"], []),
    "q_filter_range": (["PushedFilters: [IsNotNull"], []),
    "q_filter_eq": (["PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"], []),
    "q_join_broadcast": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    "q_join_multiway": (["BroadcastHashJoin"], ["CartesianProduct"]),
    "q_join_inner": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "q_join_asof": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # bucketed range join: equi join on (key, bucket) + residual BETWEEN
    "q_join_range": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # per-group sampling prunes map-side like any windowed top-k
    "q_sample_group_k": (["WindowGroupLimit"], []),
    # blocked fuzzy match: equi join on block key, levenshtein residual
    "q_fuzzy_join": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # funnel stages chain per-user aggregates through equi joins
    "q_funnel_3step": (["HashAggregate"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # spine gap-fill is an equi left join, never a nested loop
    "q_ts_gapfill": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # sessionize: two window functions share one sort
    "q_ts_sessionize": (["Window"], ["CartesianProduct"]),
    # unpivot compiles to the narrow Expand node
    "q_unpivot": (["Expand"], ["Exchange"]),
    "q_topk": (["TakeOrderedAndProject"], ["Exchange rangepartitioning"]),
    "q_win_topk_group": (["WindowGroupLimit"], []),
    "q_agg_group": (["HashAggregate"], ["SortAggregate"]),
    "q_agg_global": (["HashAggregate"], []),
    "q_llm_exact_dedup": (["HashAggregate"], []),
    "q_llm_knn_join": (["BroadcastExchange"], ["SortMergeJoin"]),
    "q_llm_ngram_jaccard": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "q_llm_minhash_dedup": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "q_llm_minhash_verified": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "q_llm_simhash": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "q_telemetry_pipeline": (["ArrowEvalPython"], ["CartesianProduct"]),
    # subquery decorrelation: EXISTS/IN → semi join, NOT EXISTS → anti
    # join, correlated scalar → per-key aggregate joined back — never a
    # per-row nested loop
    "q_subq_exists": (["LeftSemi"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "q_subq_in": (["LeftSemi"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "q_subq_not_exists": (["LeftAnti"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "q_subq_corr_scalar": (["HashAggregate"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "q_subq_scalar": (["PushedFilters: [IsNotNull(p_retailprice)"], ["CartesianProduct"]),
    # decontamination: benchmark n-gram set broadcasts onto the corpus
    "q_llm_decontaminate": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # TF-IDF: df table + corpus-size scalar broadcast; top-k prunes map-side
    "q_llm_tfidf_topk": (["BroadcastHashJoin", "WindowGroupLimit"], ["CartesianProduct"]),
    # z-score: per-key moments broadcast back; the stream never shuffles
    "q_ts_zscore": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # CDC merge: latest-wins rank prunes losers map-side
    "q_cdc_upsert": (["WindowGroupLimit"], ["CartesianProduct"]),
    # repetition stats: hash aggregates with map-side partials only
    "q_llm_rep_ngrams": (["HashAggregate"], ["SortAggregate", "CartesianProduct"]),
    # table profile (r12 shape): per-type long form — stack (Generate)
    # to (col_name, value), two-phase hash agg by (col_name, value)
    # then per-column merge; min/max ride the same pass on the NATIVE
    # type. The former multi-distinct Expand (×|cols|+1 on every scan
    # row) and the second min/max scan are regressions if they return.
    "q_profile_table": (
        ["Generate", "HashAggregate", "Union"],
        ["Expand", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # histogram: bounds broadcast in-plan; bin agg partial-combines map-side
    "q_agg_histogram": (["HashAggregate"], ["SortMergeJoin", "CartesianProduct"]),
    # per-key mode: winner rank prunes map-side after the keyed count
    "q_agg_mode": (["WindowGroupLimit"], ["CartesianProduct"]),
    # rolling time window: partitioned RANGE frame, no join at all
    "q_ts_rolling": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # nearest-station: grid-cell candidate equi-join (broadcast), winner
    # pruned map-side — no position×station nested loop anywhere
    "q_geo_nearest_station": (
        ["WindowGroupLimit", "BroadcastHashJoin"],
        ["SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # track length: lag window and final agg share one user_id shuffle
    "q_geo_track_length": (["Window", "HashAggregate"], ["CartesianProduct"]),
    # lateral top-k decorrelates to join + ranked window, not per-row re-exec
    "q_lateral_topk": (["BroadcastHashJoin"], ["CartesianProduct"]),
    # winsorize: per-group percentile bounds broadcast onto the fact side
    "q_winsorize": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # transition matrix: lag window + map-side-combined count, one key shuffle
    "q_event_transitions": (["Window", "HashAggregate"], ["CartesianProduct"]),
    # corr matrix: ONE scan computes all 6 pairs (single aggregate, no rescans)
    "q_agg_corr_matrix": (["HashAggregate"], ["Union", "CartesianProduct"]),
    # revenue shares: star join broadcasts dims; windows run post-aggregation
    "q_win_share": (["BroadcastHashJoin", "Window"], ["CartesianProduct"]),
    # hybrid retrieval: final top-K is a per-partition heap, never a
    # single-partition row_number window over all scored candidates
    "q_llm_hybrid_search": (["TakeOrderedAndProject"], ["Window"]),
    # vocab induction: top-100 words via per-partition heaps, not a
    # global window sort over every distinct corpus word
    "q_llm_vocab_oov": (["TakeOrderedAndProject"], ["Window"]),
    # BPE merge candidates: two-phase pair count (map-side combine —
    # distinct pairs cross the wire, not the exploded corpus) + heap
    # top-K; no window sort, no join
    "q_llm_bpe_pairs": (
        ["TakeOrderedAndProject", "HashAggregate"],
        ["Window", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # pagerank: the returned plan is a scan of the final checkpointed
    # iteration (lineage deliberately cut) — assert only that nothing
    # degenerated into a nested loop downstream of the checkpoint
    "q_graph_pagerank": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # SCD2: change-detect lag and interval-stamp lead share ONE
    # user_id sort/shuffle (a single Window node), no join at all
    "q_scd2_build": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # interval-overlap: bucketed equi-join candidates + residual — the
    # |err|×|pur| nested loop must never appear
    "q_join_interval_overlap": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # equi-depth histogram: the 1-row decile edges broadcast in-plan;
    # bin assignment and counts are hash aggregates, no range shuffle
    "q_agg_histogram_eqdepth": (
        ["BroadcastNestedLoopJoin", "HashAggregate"],
        ["SortMergeJoin", "Exchange rangepartitioning"],
    ),
    # weighted sample: top-K by priority is a per-partition heap
    "q_sample_weighted": (["TakeOrderedAndProject"], ["Exchange rangepartitioning"]),
    # bloom-pruned join: 1-row bit-set attach + broadcast semi join —
    # the FACT side never shuffles for the join (the only hash
    # exchanges in the plan are the tiny dim-side distinct and the
    # final |flags|-row aggregate)
    "q_join_bloom_prune": (
        ["LeftSemi", "BroadcastHashJoin"],
        ["SortMergeJoin", "ShuffledHashJoin"],
    ),
    # co-bucketed fact⋈fact join: both scans read buckets, the SMJ has
    # NO exchange on either join key — the only shuffle allowed is the
    # final 5-group aggregate on o_orderpriority
    "q_join_bucketed": (
        ["SelectedBucketsCount", "SortMergeJoin"],
        [
            "hashpartitioning(l_orderkey",
            "hashpartitioning(o_orderkey",
            "CartesianProduct",
        ],
    ),
    # dynamic partition pruning: the dimension's urgency filter must
    # reach the fact scan as a runtime dynamicpruning subquery (the
    # fact has no static predicate on the partition column)
    # "dynamicpruningexpression(true)" is the DEGENERATE form (DPP
    # planned but dropped because no broadcast was reusable — at sf10
    # this silently meant a full 5-of-5 scan plus a 137 MB fact
    # exchange); forbidding it pins the subquery as actually pruning
    "q_scan_dpp": (
        ["dynamicpruning", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "dynamicpruningexpression(true)"],
    ),
    # run-collapse is a pure projection: indexed HOF filter, no
    # explode (Generate), no Window, no hash shuffle — the only
    # allowed Exchange is spread()'s round-robin scan chunking
    "q_llm_collapse_runs": ([], ["Generate", "Window", "Exchange hashpartitioning"]),
    # line-level dedup: digest-keyed df agg + membership join + one
    # doc-keyed rewrite groupBy — never a nested loop, never a global
    # sort (collect_list is array_sort-ed per group, not ordered)
    "q_llm_line_dedup": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "Exchange rangepartitioning"],
    ),
    # mixture rebalancing: the per-lang rate table joins as a
    # broadcast (its size is the language-set cardinality); the only
    # data-volume op is one scan with a hash compare
    "q_llm_mixture_sample": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # BPE merge application: rule selection is the pair aggregate +
    # per-partition heap; application is a zero-shuffle HOF projection
    # (no Generate/Window in the rewrite)
    "q_llm_bpe_apply": (
        ["HashAggregate", "TakeOrderedAndProject"],
        ["CartesianProduct", "Window", "Exchange rangepartitioning"],
    ),
    # PII scrub is a pure projection: regex count+replace per row — no
    # join, no aggregate-side exchange at all
    "q_llm_pii_scrub": ([], ["Exchange hashpartitioning", "Generate", "Window"]),
    # z-order layout: the derived 1-D z-range must reach the parquet
    # scan as a pushed filter (that is the whole point — row-group
    # min/max skipping on a z-sorted layout); one scan, no join
    "q_layout_zorder": (
        ["PushedFilters: [IsNotNull(z)", "GreaterThanOrEqual(z,"],
        ["Exchange", "SortMergeJoin", "CartesianProduct"],
    ),
    # triangle counting: wedge join + closing-edge join are equi joins
    # on oriented keys; per-node rollup is a hash agg and the top-k a
    # per-partition heap — no nested loop, no global sort
    "q_graph_triangles": (
        ["HashAggregate", "TakeOrderedAndProject"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "Exchange rangepartitioning"],
    ),
    # PQ/ADC: codebook + distance table are broadcast constants; the
    # encode argmin is a struct-min partial aggregate (NO window), and
    # the query top-k is a TakeOrderedAndProject, not a global sort
    "q_llm_ann_pq": (
        ["BroadcastHashJoin", "TakeOrderedAndProject", "HashAggregate"],
        ["CartesianProduct", "Window", "Exchange rangepartitioning"],
    ),
    # IVF-PQ composition: everything constant-sized broadcasts (means,
    # codebook, nprobe distance table); the ADC scan's restriction to
    # probed clusters is the (cluster, m, code) broadcast-hash join —
    # no global sort anywhere (the assignment argmax window partitions
    # by vec_id, never a single reducer)
    "q_llm_ann_ivfpq": (
        ["BroadcastHashJoin", "TakeOrderedAndProject", "HashAggregate"],
        ["CartesianProduct", "Exchange rangepartitioning"],
    ),
    # common-neighbor top-k: equi self-join + hash agg + per-partition
    # heap — never a global sort or a nested loop
    "q_graph_common_neighbors": (
        ["TakeOrderedAndProject", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "Exchange rangepartitioning"],
    ),
    # incremental MV refresh: partial-state aggregates merged by a
    # second hash aggregate — the merge never joins base to delta
    "q_mv_incremental": (
        ["HashAggregate", "Union"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # the Python DataSource connector reads through a native V2
    # BatchScan (Arrow-batched), and the rollup stays a two-phase
    # hash aggregate
    "q_source_pyds": (
        ["BatchScan itws_serial", "HashAggregate"],
        ["CartesianProduct", "SortAggregate"],
    ),
    # DQ referential-integrity checks are anti joins on the key; the
    # only nested loops are the allowlisted 1-row report stitches
    "q_dq_checks": (
        ["LeftAnti", "Union", "HashAggregate"],
        ["CartesianProduct"],
    ),
    # MOR equality deletes: the delete-key anti-join must BROADCAST
    # (delete sets are tiny vs the table) — a shuffled anti-join here
    # would re-shuffle the whole table per takedown
    "q_iceberg_mor_delete": (
        ["BroadcastHashJoin", "LeftAnti"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # MOR position deletes: broadcast anti-join on (_file_path, _pos)
    "q_iceberg_mor_pos_delete": (
        ["BroadcastHashJoin", "LeftAnti"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # changelog scan: append increments are file-diff scans and the
    # eq-delete rows come from a broadcast semi-join — never a
    # nested-loop or cartesian anywhere in the union
    "q_iceberg_changelog": (
        ["LeftSemi", "Union"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
}

# Registry-wide invariant allowlists. Every entry carries the reason it
# is allowed — an unlisted query hitting the pattern fails the audit.

# BroadcastNestedLoopJoin: legitimate ONLY as (1) a declared cross or
# theta join, or (2) a one-row/small-bounded broadcast a scalar or
# probe-set attaches with. Both keep the big side streaming map-side.
BNLJ_ALLOWED: dict[str, str] = {
    "q_join_cross": "the declared cross join (two dimension tables)",
    "q_join_theta": "declared theta join (inequality predicate)",
    "q_agg_histogram": "1-row min/max bounds broadcast",
    "q_llm_mixture_sample": "1-row min-language-count broadcast onto the "
    "|langs|-row rate table",
    "q_llm_mixture_temperature": "same 1-row min-count broadcast as "
    "q_llm_mixture_sample (sqrt rate)",
    "q_llm_bpe_apply": "1-row learned merge-rule broadcast",
    "q_llm_pack_greedy": "1-row doc_id min/max broadcast (two-phase "
    "cumsum range bucketing, attach_range_bucket)",
    "q_llm_quality_gate": "1-row score min/max broadcast (two-phase "
    "percent_rank range bucketing)",
    "q_llm_corpus_pipeline": "1-row min/max broadcasts for the gate's "
    "and packer's two-phase windows",
    "q_agg_histogram_eqdepth": "1-row decile-edge array broadcast",
    "q_cdc_upsert": "1-row max(o_orderkey) insert-offset broadcast",
    "q_join_bloom_prune": "1-row bloom bit-set broadcast onto fact scan",
    "q_dq_checks": "1-row violation-count × 1-row total stitch per constraint",
    "q_tpch_q11": "1-row group-value threshold broadcast (spec'd HAVING)",
    "q_tpch_q22": "1-row avg(acctbal) scalar broadcast (spec'd subquery)",
    "q_llm_cosine_topk": "k-row probe-vector broadcast",
    "q_llm_ann_mrl": "1-row truncated-probe broadcast",
    "q_llm_cosine_pairs": "bounded candidate-block broadcast",
    "q_llm_knn_join": "probe-set broadcast (|probes| ≪ corpus)",
    "q_llm_hybrid_search": "probe-vector + idf-model broadcast",
    "q_llm_semantic_decontam": "fixed eval-probe-set broadcast "
    "(benchmark sets are constant-size even at 100 TB)",
    "q_llm_ann_ivf": "centroid-table broadcast (nlist rows)",
    "q_llm_ann_pq": "1-row probe broadcast for the exact re-ranking "
    "of the constant ADC shortlist",
    "q_llm_ann_ivfpq": "1-row probe × K-centroid scoring broadcast "
    "(cluster selection; the ADC scan itself is an equi hash join) + "
    "the same re-rank probe broadcast as q_llm_ann_pq",
    "q_llm_ann_ivf_indexed": "centroid + 1-row probe broadcast over the "
    "partition-pruned index scan",
    "q_llm_ann_pq_indexed": "same 1-row re-rank probe broadcast as "
    "q_llm_ann_pq; codes come from the materialized index",
    "q_llm_ann_ivfpq_indexed": "same probe/centroid-scoring broadcasts as "
    "q_llm_ann_ivfpq over the partition-pruned code scan",
    "q_llm_semdedup": "centroid-table broadcast for the cluster assignment",
    "q_llm_semdedup_capped": "same centroid-table broadcast as q_llm_semdedup",
    "q_llm_ann_recall": "embeds the ivf/topk probe broadcasts + 1-row probe-bucket broadcast",
    "q_llm_tfidf_topk": "1-row corpus-size scalar broadcast",
    "q_llm_unigram_logprob": "1-row vocab-total scalar broadcast",
    "q_llm_neg_sample": "1-row corpus-count scalar broadcast",
    "q_ml_kmeans_step": "k-row centroid broadcast",
    "q_mv_incremental": "1-row MV split-point scalar broadcast",
}

# Single-partition Window (Exchange SinglePartition feeding a Window):
# allowed only over post-aggregate frames whose row count is bounded by
# a group-by cardinality, never over raw table rows.
GLOBAL_WINDOW_ALLOWED: dict[str, str] = {
    "q_win_share": "global share over 25 post-aggregate nation rows",
    "q_profile_skew": "rank over |distinct keys| post-aggregate rows",
}

# A Python UDF (keyed by name + result id, so two different functions
# that share a name are not a repeat) in more than one executed-plan
# node: the kernel runs once per node, and every Arrow task pays the
# worker's fixed start-up cost (PERF.md, "Per-task Python cost").
REPEATED_UDF_ALLOWED: dict[str, str] = {
    "q_llm_ann_lsh": "bucket_batches once per self-join side: persisting "
    "the bucketed corpus for both sides would pin every embedding in "
    "block storage, which is not a 100 TB plan",
}

# CartesianProduct: never. (Even q_join_cross compiles to a broadcast
# nested loop, not an unpartitioned cartesian.)
CARTESIAN_ALLOWED: dict[str, str] = {}

# Invariant (e): a Window over RAW fact rows whose partition spec is
# ONLY bounded-enum columns is a single-reducer in disguise — hash
# exchange, not SinglePartition, so invariant (c) can't see it, but at
# 100 TB every row of an enum value flows through one task's sort
# (q_llm_token_budget's original per-source running sum — the r7
# verdict's scale-watch item). Columns whose cardinality is a fixed
# enum in the schema, independent of SF:
BOUNDED_ENUM_COLUMNS = frozenset({
    "source", "lang", "event_type", "split",
    # synthetic bounded keys: 'shard' is the 16-way training-shard id
    # (a FORMAT constant — a per-shard serial rank is 1/16th of a
    # single reducer, caught r8 in q_llm_shuffle_shards)
    "shard",
    "l_returnflag", "l_linestatus", "l_shipmode", "l_shipinstruct",
    "o_orderstatus", "o_orderpriority",
    "r_regionkey", "r_name", "n_regionkey",
    "p_brand", "p_container", "p_mfgr",
    "c_mktsegment",
})
# A window IS allowed over a post-aggregate frame (row count bounded by
# a group-by cardinality) — detected structurally (an Aggregate between
# the Window and every scan). Anything else must be allowlisted here
# with a reason:
ENUM_WINDOW_ALLOWED: dict[str, str] = {}

# ---------------------------------------------------------------------------
# Invariant (d): no explicit ``F.broadcast`` hint on an input whose row
# count grows with scale factor. A hint overrides AQE, so a growing
# build side OOMs the executors long before 100 TB — exactly the class
# of scale-killer the TPC-H Q14/Q18/Q19 regression showed. Every
# ``F.broadcast(`` call site in the package must appear here, keyed by
# (relative path, first identifier of the argument expression), with a
# reason why the frame is provably sub-linear: a fixed dimension
# (nation=25 / region=5 rows), a one-row aggregate, a ≤k top-k /
# centroid / probe set, or a constant-size artifact (bucket offsets,
# histogram edges, bloom bits). A new unlisted site fails the audit
# until it is classified; a stale entry (no longer in the source) also
# fails, so the list cannot rot.
BROADCAST_BOUNDED: dict[str, dict[str, str]] = {
    "api.py": {
        "bench_grams": "benchmark/eval n-gram set (MBs by design — eval "
        "sets are fixed even when the corpus is 100 TB; documented in "
        "Engine.decontaminate)",
        "min_row": "one-row min-group count (facade mixture_sample — "
        "same shape as llm/prep.py)",
        "rates": "per-group rate table (group-set cardinality, a fixed "
        "enum — facade mixture_sample)",
        "top": "one-row learned BPE merge rule (facade bpe_learn_merge "
        "— same shape as llm/textstats.py)",
        "seed_map": "PQ_K-row codebook seed mapping (constant — facade "
        "build_pq_ann_index)",
        "psub": "probe subvectors (PQ_M rows, constant — facade "
        "pq_ann_search)",
        "dt": "ADC distance table (PQ_M×PQ_K rows, constant — facade "
        "pq_ann_search)",
        "shortlist": "ADC top-rerank ids for exact re-ranking (constant "
        "rows per query — facade pq_ann_search)",
    },
    "llm/prep.py": {
        "n": "one-row corpus count",
        "min_row": "one-row min-language count",
        "rates": "per-language rate table (language-set cardinality — "
        "a fixed enum, not a data volume)",
    },
    "llm/textstats.py": {
        "vocab": "top-VOCAB_SIZE words (limit 100)",
        "total": "one-row token total",
        "top": "one-row learned BPE merge rule",
    },
    "llm/similarity.py": {
        "probe": "fixed probe vector set (constant k rows)",
        "probes": "fixed probe vector set (constant k rows)",
        "cent": "K centroids (constant)",
        "probe_sims": "nprobe×K probe-centroid rows (constant)",
        "pb": "probe bucket signature (constant rows)",
        "brute": "brute-force top-k baseline (k rows)",
        "probe_sub": "probe subvectors (PQ_M rows, constant)",
        "dt": "ADC distance table (PQ_M×PQ_K rows, constant)",
        "cmean": "IVF cluster means (K×dim values, constant)",
        "psub": "probe residual subvectors (nprobe×PQ_M rows, constant)",
        "shortlist": "ADC top-PQ_RERANK ids for exact re-ranking "
        "(constant 100 rows per query)",
    },
    "llm/decontam.py": {
        "bench_grams": "fixed benchmark n-gram set",
        "n_docs": "one-row corpus count",
    },
    "streaming/jobs.py": {"_final_wm": "one-row watermark scalar"},
    "sources/snapshots.py": {
        "dk": "merge-on-read delete files (equality keys / position "
        "ordinals): O(|deleted rows|) by the delete-commit contract — "
        "a delete set rivaling the table would be a copy-on-write "
        "rewrite instead (delete_keys/delete_where_positional "
        "docstrings; compaction applies and clears them)",
    },
    "operators/sketches.py": {
        "truth": "per-event-type exact counts (fixed enum cardinality)",
        "bits": "bloom filter bit set (fixed m bits)",
        "bloom": "one-row collected bloom sketch",
    },
    "operators/windows.py": {
        "off": "≤ |parts|×n_buckets cumulative offsets (_global_rank, "
        "two_phase_cumsum, two_phase_percent_rank)",
        "mm": "1-row min/max bucketing bounds (attach_range_bucket)",
        't["nation"]': "25-row dimension",
        't["region"]': "5-row dimension",
    },
    "operators/joins.py": {
        't["nation"]': "25-row dimension",
        't["region"]': "5-row dimension",
        "bands": "fixed theta-band edge list",
        "n": "filtered nation (≤25 rows)",
    },
    "sources/layouts.py": {
        "dim": "compile-time-constant 5-row priority dimension "
        "(_PRIORITIES literal); explicit hint required because a "
        "createDataFrame local relation is stats-less — without it "
        "the planner SMJs past the fact's auto-broadcast size and "
        "DPP degenerates to dynamicpruningexpression(true)",
    },
    "operators/graph.py": {
        "ranks_src": "count-gated: broadcast only when the measured "
        "pre-loop node count ≤ PAGERANK_BROADCAST_NODES (1M rows ≈ "
        "30 MB); above the cap the iteration uses the shuffle join — "
        "bounded by construction, not by assumption",
    },
    "operators/warehouse.py": {
        "edges": "fixed equi-depth bin edges (N_BINS)",
        "split": "one-row MV split-point scalar",
    },
    "operators/geo.py": {
        "cand": "occupied 5° cells × static station list (≤ thousands, "
        "planet-bounded regardless of SF)"
    },
    "operators/cdc.py": {"mx": "one-row max-version scalar"},
    "operators/aggregates.py": {'t["region"]': "5-row dimension"},
    "operators/profiling.py": {"bounds": "per-flag min/max (≤3 rows)"},
    "operators/tpch.py": {
        't["nation"]': "25-row dimension",
        't["region"]': "5-row dimension",
        "n1": "filtered/aliased nation (≤25 rows)",
        "n2": "filtered/aliased nation (≤25 rows)",
        "total": "one-row grand total",
        "max_rev": "one-row max revenue scalar",
        "avg_bal": "one-row average balance scalar",
    },
}

_BROADCAST_ARG_KEY = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*(?:\[\s*[\"'][^\"']+[\"']\s*\])?)"
)


def broadcast_hint_sites(pkg_root: str) -> list[tuple[str, int, str]]:
    """Every ``F.broadcast(`` call in the package as
    (relpath, lineno, arg-key) where arg-key is the leading identifier
    (with one optional subscript) of the argument expression."""
    sites = []
    for dirpath, _dirs, files in os.walk(pkg_root):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg_root)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            for m in re.finditer(r"F\.broadcast\(", src):
                arg = src[m.end() : m.end() + 200]
                key_m = _BROADCAST_ARG_KEY.match(arg)
                key = re.sub(r"\s+", "", key_m.group(1)) if key_m else "<?>"
                lineno = src.count("\n", 0, m.start()) + 1
                sites.append((rel, lineno, key))
    return sites


def broadcast_hint_violations(pkg_root: str) -> list[str]:
    """Invariant (d): unlisted F.broadcast sites + stale allowlist rows."""
    sites = broadcast_hint_sites(pkg_root)
    errs = []
    seen: set[tuple[str, str]] = set()
    for rel, lineno, key in sites:
        seen.add((rel, key))
        if key not in BROADCAST_BOUNDED.get(rel, {}):
            errs.append(
                f"{rel}:{lineno} F.broadcast({key}…) not classified as "
                "sub-linear in BROADCAST_BOUNDED"
            )
    for rel, keys in BROADCAST_BOUNDED.items():
        for key in keys:
            if (rel, key) not in seen:
                errs.append(f"stale BROADCAST_BOUNDED entry {rel}:{key}")
    return errs


_WINDOW_RE = re.compile(r"\bWindow(GroupLimit)? \[")


def _tree_depth(ln: str) -> int:
    """Indentation depth of a plan-tree line (prefix of ' :+-' before
    the node name; codegen markers like ``*(3)`` start the name)."""
    return len(ln) - len(ln.lstrip(" :+-"))


def single_partition_windows(plan: str) -> int:
    """Count Window nodes fed by an Exchange SinglePartition.

    Walks the Window's own subtree by indentation depth (not a fixed
    line lookahead) so extra Sort/Project/AQEShuffleRead/
    ShuffleQueryStage wrappers between the Window and its Exchange
    cannot hide the single-reducer — the first Exchange encountered
    before leaving the subtree is the Window's input partitioning."""
    lines = plan.splitlines()
    hits = 0
    for i, ln in enumerate(lines):
        if _WINDOW_RE.search(ln):
            d = _tree_depth(ln)
            for j in range(i + 1, len(lines)):
                if _tree_depth(lines[j]) <= d:
                    break  # left the Window's subtree
                if "Exchange" in lines[j]:
                    if "Exchange SinglePartition" in lines[j]:
                        hits += 1
                    break
    return hits


def _window_partition_cols(ln: str) -> list[str] | None:
    """Base column names of a Window plan line's partition spec (the
    second top-level bracket group: ``Window [fns], [part], [order]``),
    or None if the line isn't parseable as a Window node."""
    start = ln.find("Window [")
    if start < 0:
        return None
    groups, depth, cur = [], 0, []
    for ch in ln[start + len("Window ") :]:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                if len(groups) == 2:
                    break
                continue
        if depth >= 1:
            cur.append(ch)
    if len(groups) < 2:
        return None
    cols = re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", groups[1])
    return cols


def enum_partitioned_fact_windows(plan: str) -> list[str]:
    """Invariant (e): Window nodes whose partition columns are ALL in
    BOUNDED_ENUM_COLUMNS and whose subtree reaches a scan WITHOUT an
    intervening aggregate — i.e. every fact row of an enum value is
    sorted by one task. Post-aggregate frames (bounded row counts) are
    structurally exempt."""
    lines = plan.splitlines()
    hits = []
    for i, ln in enumerate(lines):
        if "WindowGroupLimit" in ln:
            continue
        cols = _window_partition_cols(ln)
        if not cols or any(c not in BOUNDED_ENUM_COLUMNS for c in cols):
            continue
        d = _tree_depth(ln)
        # walk the subtree: an Aggregate on the path to every scan
        # bounds the window's input; a bare scan means fact-scale rows
        agg_depths: list[int] = []
        raw_scan = False
        for j in range(i + 1, len(lines)):
            dj = _tree_depth(lines[j])
            if dj <= d:
                break
            agg_depths = [a for a in agg_depths if a < dj]
            if "HashAggregate" in lines[j] or "SortAggregate" in lines[j]:
                agg_depths.append(dj)
            elif ("FileScan" in lines[j] or "BatchScan" in lines[j]) and not agg_depths:
                raw_scan = True
        if raw_scan:
            hits.append(f"Window partitioned only by enum cols {cols} over raw scan")
    return hits


_PY_NODE_RE = re.compile(r"(?:\*\(\d+\) )?\w*(?:Python|InPandas|InArrow)\w*\b")
_CALL_RE = re.compile(r"(\w+)\(")


def _udf_calls(text: str) -> set[str]:
    """``name#id`` of every ``name(args…)#id`` call in a plan-node line."""
    out = set()
    for m in _CALL_RE.finditer(text):
        depth, i = 1, m.end()
        while depth and i < len(text):
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
        rid = re.match(r"#(\d+)", text[i:])
        if not depth and rid:
            out.add(f"{m.group(1)}#{rid.group(1)}")
    return out


def repeated_python_udfs(plan: str) -> list[str]:
    """Invariant (g): Python UDFs that appear in more than one
    Python-evaluation node (MapInArrow, FlatMapGroupsInPandas,
    ArrowEvalPython, …) of the plan."""
    nodes: Counter[str] = Counter()
    for ln in plan.splitlines():
        body = ln.lstrip(" :+-")
        m = _PY_NODE_RE.match(body)
        if m:
            nodes.update(_udf_calls(body[m.end():]))
    return [
        f"Python UDF {key} in {n} plan nodes"
        for key, n in sorted(nodes.items())
        if n > 1
    ]


def invariant_violations(name: str, plan: str) -> list[str]:
    errs = []
    if "CartesianProduct" in plan and name not in CARTESIAN_ALLOWED:
        errs.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
        errs.append("BroadcastNestedLoopJoin (not allowlisted)")
    if name not in GLOBAL_WINDOW_ALLOWED and single_partition_windows(plan):
        errs.append("single-partition Window")
    if name not in ENUM_WINDOW_ALLOWED:
        errs.extend(enum_partitioned_fact_windows(plan))
    repeated = repeated_python_udfs(plan)
    if name not in REPEATED_UDF_ALLOWED:
        errs.extend(repeated)
    elif not repeated:
        errs.append("stale REPEATED_UDF_ALLOWED entry")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    pkg_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "iceberg_twist_spark",
    )
    hint_errs = broadcast_hint_violations(pkg_root)
    for e in hint_errs:
        print(f"FAIL  broadcast-hint: {e}")
    print(
        f"broadcast-hint audit: {len(broadcast_hint_sites(pkg_root))} sites, "
        f"{len(hint_errs)} violations"
    )
    _load_all_modules()
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    named_failures, sweep_failures = [], []
    for name in sorted(REGISTRY):
        try:
            df = REGISTRY[name].builder(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name:28s} BUILD-ERR {type(exc).__name__}: {str(exc)[:120]}")
            sweep_failures.append(name)
            continue
        # layer 2: registry-wide invariants
        errs = invariant_violations(name, plan)
        # invariant (f): oracle-checked output schemas must be hashable
        # by the driver's pandas canonicalizer (the q_str_extract_all
        # failure class — see tools/check.py assert_hashable_schema)
        spec = REGISTRY[name]
        if spec.oracle is not None or spec.approx_oracle is not None:
            try:
                from tools.check import assert_hashable_schema

                assert_hashable_schema(name, df)
            except TypeError as exc:
                errs.append(str(exc))
        if errs:
            sweep_failures.append(name)
            print(f"FAIL  {name:28s} invariants: {errs}")
        # layer 1: named plan-shape assertions
        if name in AUDITS:
            wants, rejects = AUDITS[name]
            missing = [
                w for w in wants
                if not (w.search(plan) if isinstance(w, re.Pattern) else w in plan)
            ]
            present = [r for r in rejects if r in plan]
            ok = not missing and not present
            joins = sorted(set(re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
                plan,
            )))
            print(f"{'PASS' if ok else 'FAIL':5s} {name:24s} joins={joins or '-'}"
                  + (f" missing={missing}" if missing else "")
                  + (f" forbidden={present}" if present else ""))
            if not ok:
                named_failures.append(name)
    n_sweep = len(REGISTRY)
    print(f"\n{len(AUDITS) - len(named_failures)}/{len(AUDITS)} plan audits passed")
    print(f"{n_sweep - len(sweep_failures)}/{n_sweep} registry-wide invariant checks passed")
    return 1 if named_failures or sweep_failures or hint_errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
