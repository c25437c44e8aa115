"""Headline benchmark (driver contract: BENCH_r{N}.json).

Runs the headline queries from BASELINE.md §2 at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. The LAST stdout line is the driver
contract — compact, <1.5 kB so the driver's ~2 kB tail capture always
contains it whole::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "sf": ..., "timing": "..."}

The measured per-query shuffle-bytes map (and any ceiling violations)
is emitted as its own earlier stdout line (``headline_shuffle_bytes``)
— diagnostics must never grow the contract line.

Each query is timed to completed collect (action-inclusive, plan +
execute). A short warm-up action first so JVM/codegen startup isn't
billed to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iceberg_twist_spark.registry import REGISTRY, _load_all_modules
from iceberg_twist_spark.session import get_spark

# BASELINE.md §2 headline set: flagship agg, join-heavy star join,
# window suite, kNN over embeddings, plus the LLM dedup pipeline.
HEADLINE = (
    "q_agg_group",
    "q_join_multiway",
    "q_win_rank",
    "q_win_running",
    "q_win_lag",
    "q_topk",
    "q_llm_cosine_topk",
    "q_llm_knn_join",
    "q_llm_exact_dedup",
    "q_stream_tumble",
    # TPC-H power-style headliners: flagship agg, 6-way star join,
    # widest join graph, and the semi-join-heavy large-volume query.
    "q_tpch_q01",
    "q_tpch_q05",
    "q_tpch_q09",
    "q_tpch_q18",
    # breadth headliners: corpus hygiene (broadcast n-gram join),
    # iterative graph (3 join+agg rounds), single-pass profile,
    # MinHash banding dedup.
    "q_llm_decontaminate",
    "q_graph_pagerank",
    "q_profile_table",
    "q_llm_minhash_dedup",
    # round-2 additions: warehouse modeling (SCD2 history, bucketed
    # interval-overlap join), sequence-pattern window, LSH ANN pairs
    "q_scd2_build",
    "q_join_interval_overlap",
    "q_seq_pattern",
    "q_llm_ann_lsh",
    # round-4 additions: write-once layouts — the co-bucketed join's
    # shuffle is the 5-group agg ONLY (3.3 KB at sf0.1 for a
    # 600k⋈150k join), DPP reads 2 of 5 fact directories
    "q_join_bucketed",
    "q_scan_dpp",
    # round-5 additions: corpus line-level dedup (digest-bounded df
    # pass + one corpus rewrite) and the PQ/ADC ANN index (constant
    # broadcasts, integer distance sums)
    "q_llm_line_dedup",
    "q_llm_ann_pq",
    # round-7 additions: the verified near-dup pair tier (the backbone
    # of clusters/survivor/corpus_pipeline since r6) and the composed
    # end-to-end corpus pipeline — bench-pinned so a plan regression
    # shows in BENCH deltas, not only at the 1M-doc rehearsal
    "q_llm_minhash_verified",
    "q_llm_corpus_pipeline",
    # the materialized-PQ scale path next to its in-query-training
    # baseline (the one-time index build bills to the first warm-up
    # attempt; shuffle keeps the last attempt's query-only delta)
    "q_llm_ann_pq_indexed",
    # round-10 additions (r9 verdict #5): the snapshot-lifecycle and
    # index-retraction verbs were correctness-gated but absent here,
    # so a 10× plan regression in the lakehouse layer would have
    # shipped silently. The four most expensive of those families:
    # MOR equality-delete + compaction, write-audit-publish, the
    # per-micro-batch streaming snapshot sink, and LSH index
    # retraction. Fixture staging bills to the first attempt only
    # (best-of-N keeps the cached-table re-reads, same policy as the
    # layout queries).
    "q_iceberg_mor_delete",
    "q_iceberg_wap",
    "q_stream_iceberg_sink",
    "q_llm_minhash_index_remove",
)

# Queries whose result set is large: execute via the noop sink so the
# timing measures engine throughput, not Py4J row serialization of a
# 600k-row collect to the Python driver. scd2_build and pagerank
# joined in r5 when the sf10 run exposed the collect as the dominant
# term (scd2's 24M-row output: 44.7 s measured, mostly serialization —
# r3/r4 records for those two at all SFs predate this change).
_NOOP_SINK = frozenset(
    {
        "q_join_multiway", "q_win_rank", "q_win_running", "q_win_lag",
        "q_llm_exact_dedup", "q_scd2_build", "q_graph_pagerank",
    }
)

# ---------------------------------------------------------------------------
# Shuffle-bytes regression gate. "Minimal shuffle" was previously a
# plan-shape claim (tools/explain_audit.py); here it becomes a measured
# number: per query, total shuffle WRITE bytes across that query's
# stages (read ≈ write locally; write is the volume a plan change
# silently doubles), plus peak per-stage execution memory, read from
# the AppStatusStore after the first timed run. Ceilings are calibrated
# at sf0.1 (the driver's bench SF) with ~2.5× headroom over measured —
# loose enough for AQE/partition-count jitter, tight enough that an
# accidental extra Exchange (typically ≥2× on the dominant table) or a
# lost map-side combine fails the bench. Enforced at the SFs with a
# calibration table (sf0.1 here, sf1 below); other SFs still report.
SHUFFLE_CEILING_SF01 = {  # bytes at sf0.1: measured (r4 calibration) → ceiling
    "q_agg_group": 50_000,            # 828 — pure map-side combine
    "q_join_multiway": 10_000,        # 0 — all joins broadcast at this SF
    "q_win_rank": 6_000_000,          # 2.39 MB — one partitioned-window exchange
    "q_win_running": 6_000_000,       # 2.39 MB
    "q_win_lag": 5_000_000,           # 1.91 MB
    "q_topk": 10_000,                 # 0 — TakeOrderedAndProject, no exchange
    "q_llm_cosine_topk": 1_500_000,   # 533 KB
    "q_llm_knn_join": 1_500_000,      # 548 KB
    "q_llm_exact_dedup": 1_000_000,   # 352 KB — digests shuffle, documents don't
    "q_stream_tumble": 200_000,       # 25 KB
    "q_tpch_q01": 50_000,             # 828 — map-side combine over 6 groups
    "q_tpch_q05": 100_000,            # 404 — AQE broadcasts every join here
    "q_tpch_q09": 100_000,            # 5.8 KB
    "q_tpch_q18": 4_000_000,          # 1.55 MB — the 150k-group HAVING
    "q_llm_decontaminate": 3_000_000,  # 1.02 MB
    "q_graph_pagerank": 60_000_000,   # 23.6 MB (r5: long ids, no redundant
                                      # distinct, count-gated broadcast)
    "q_profile_table": 14_000_000,    # 5.63 MB — multi-distinct Expand
    "q_llm_minhash_dedup": 2_500_000,  # 865 KB — banded signatures, not docs
    "q_scd2_build": 5_000_000,        # 1.81 MB — one shuffle on the key
    "q_join_interval_overlap": 200_000,  # 25 KB
    "q_seq_pattern": 12_000_000,      # 4.75 MB
    "q_llm_ann_lsh": 1_500_000,       # 541 KB — bucket-bounded candidates
    "q_join_bucketed": 10_000,        # 3.3 KB — ONLY the 5-group agg; the
                                      # join itself is exchange-free by layout
    "q_scan_dpp": 5_000,              # 162 B — 2-of-5 directories read,
                                      # 2-group agg is the only shuffle
    "q_llm_line_dedup": 9_000_000,    # 3.39 MB — digests + one corpus rewrite
    "q_llm_ann_pq": 10_000_000,       # 4.05 MB — encode argmin partials
                                      # (|vecs|×M code rows, never floats)
    "q_llm_ann_pq_indexed": 1_500_000,     # 558 KB (r7) — ADC partials
                                      # served from the on-disk index
    "q_llm_minhash_verified": 4_500_000,   # 1.72 MB (r7) — banded
                                      # signatures + one shingle-array
                                      # row per doc on each verify side
    "q_llm_corpus_pipeline": 10_000_000,   # 3.73 MB (r7) — verified pair
                                      # tier + CC rounds + gate/pack
                                      # windows over the kept corpus
    # r10 lifecycle headliners (calibrated r10, ~2.5x headroom)
    "q_iceberg_mor_delete": 8_000_000,     # 3.24 MB — the in-plan
                                      # MOR-vs-compacted exceptAll equivalence
                                      # asserts; the MOR read itself only
                                      # broadcasts the delete keys
    "q_iceberg_wap": 10_000,               # 0 — stage/audit/publish are
                                      # metadata ops + plain scans
    "q_stream_iceberg_sink": 200_000,      # 708 B — per-micro-batch appends,
                                      # read back as one grouped scan
    "q_llm_minhash_index_remove": 100_000,  # 9.1 KB — delete-file anti-joins
                                      # on the stored bands
}

# sf1 ceilings (r5): measured on the generated sf1 twin
# (.localdata/sf1, BENCH_sf1 section in PERF.md), same ~2.5× headroom.
# Gating at a second scale point closes the r4 blind spot: at sf0.1
# several queries shuffle hundreds of bytes, where a regression that
# MULTIPLIES a small absolute number hides under the ceiling; at sf1
# the same plans move MBs–GBs and a lost map-side combine or an extra
# Exchange lands far outside 2.5×. Notable sf1-only plan shifts, all
# expected: TPC-H Q5/Q18 stop broadcasting the SF-growing sides (AQE
# decides at runtime — 119 MB / 82 MB shuffles), and PageRank's ranks
# iterate as shuffle joins (1.03 GB = 3 iterations × |E| traffic).
SHUFFLE_CEILING_SF1 = {  # bytes at sf1: measured (r5) → ceiling
    "q_agg_group": 60_000,            # 19.9 KB — map-side combine holds
    "q_join_multiway": 100_000,       # 0 — AQE still broadcasts every join
    "q_win_rank": 65_000_000,         # 25.9 MB
    "q_win_running": 65_000_000,      # 25.9 MB
    "q_win_lag": 55_000_000,          # 20.3 MB
    "q_topk": 100_000,                # 0 — TakeOrderedAndProject
    "q_llm_cosine_topk": 4_500_000,   # 1.68 MB
    "q_llm_knn_join": 4_500_000,      # 1.70 MB
    "q_llm_exact_dedup": 3_000_000,   # 1.07 MB — digests only
    "q_stream_tumble": 250_000,       # 93.6 KB
    "q_tpch_q01": 60_000,             # 19.9 KB
    "q_tpch_q05": 300_000_000,        # 119 MB — shuffled star join at sf1
    "q_tpch_q09": 400_000,            # 137.6 KB
    "q_tpch_q18": 210_000_000,        # 81.7 MB — the 1.5M-group HAVING
    "q_llm_decontaminate": 8_000_000,  # 3.07 MB
    "q_graph_pagerank": 850_000_000,  # 322.5 MB (r5 plan: broadcast-iterate
                                      # at 210k nodes — shuffle is the deg
                                      # window + per-iteration dst aggs)
    "q_profile_table": 150_000_000,   # 56.4 MB — Expand multiplier
    "q_llm_minhash_dedup": 8_000_000,  # 2.94 MB — banded signatures
    "q_scd2_build": 50_000_000,       # 19.7 MB — one entity-key exchange
    "q_join_interval_overlap": 600_000,  # 218 KB
    "q_seq_pattern": 125_000_000,     # 50.0 MB
    "q_llm_ann_lsh": 4_500_000,       # 1.71 MB — bucket-bounded
    "q_join_bucketed": 10_000,        # 3.3 KB — layout-invariant
    "q_scan_dpp": 5_000,              # 972 B (r5 plan: broadcast dim + real DPP)
    "q_llm_line_dedup": 25_000_000,   # 10.1 MB
    "q_llm_ann_pq": 20_000_000,       # 8.05 MB
    "q_llm_ann_pq_indexed": 4_500_000,     # 1.75 MB (r7)
    "q_llm_minhash_verified": 15_000_000,  # 5.62 MB (r7)
    "q_llm_corpus_pipeline": 32_000_000,   # 12.6 MB (r7)
}

# ceilings enforced per SF; other SFs report but don't gate
SHUFFLE_CEILINGS = {0.1: SHUFFLE_CEILING_SF01, 1.0: SHUFFLE_CEILING_SF1}

# ---------------------------------------------------------------------------
# Per-query TIME bands (BASELINE.md §2.1): [min, max] best-of-N seconds
# observed across every recorded round (BENCH_r01–r08) at sf0.1. Single
# runs on this shared sandbox swing more than many real regressions
# (q_agg_group 1.6→4.5 s historically, with no code change), so the
# regression gate reads bands, not last round's number: a query FAILS
# the bench when its best-of-N exceeds band_hi × 1.75 + 0.5 s — beyond
# the worst historical swing, so a trip is a plan/code regression.
# Single-record entries (first benched r7) carry the same rule; the
# +0.5 s absolute cushion keeps sub-second queries off the noise floor.
# Re-derive after adding rounds: min/max over BENCH_r*.json "queries".
TIME_BANDS_SF01: dict[str, tuple[float, float]] = {
    "q_agg_group": (1.118, 1.728),
    "q_graph_pagerank": (3.174, 9.108),
    "q_join_bucketed": (0.197, 0.24),
    "q_join_interval_overlap": (0.928, 1.11),
    "q_join_multiway": (1.105, 2.072),
    "q_llm_ann_lsh": (1.145, 1.539),
    "q_llm_ann_pq": (3.125, 6.065),
    "q_llm_ann_pq_indexed": (1.413, 1.483),
    "q_llm_corpus_pipeline": (6.733, 7.052),
    "q_llm_cosine_topk": (0.935, 1.438),
    "q_llm_decontaminate": (1.314, 5.805),
    "q_llm_exact_dedup": (0.816, 2.265),
    "q_llm_knn_join": (1.1, 1.599),
    "q_llm_line_dedup": (1.144, 1.498),
    "q_llm_minhash_dedup": (1.39, 4.782),
    "q_llm_minhash_verified": (2.234, 2.517),
    "q_profile_table": (2.175, 2.504),
    "q_scan_dpp": (0.455, 0.618),
    "q_scd2_build": (0.92, 1.454),
    "q_seq_pattern": (0.923, 0.997),
    "q_stream_tumble": (0.772, 1.262),
    "q_topk": (0.711, 0.935),
    "q_tpch_q01": (0.908, 1.464),
    "q_tpch_q05": (1.422, 2.012),
    "q_tpch_q09": (1.033, 1.54),
    "q_tpch_q18": (1.119, 1.85),
    "q_win_lag": (0.917, 1.405),
    "q_win_rank": (0.907, 1.722),
    "q_win_running": (0.878, 1.453),
    # r10 lifecycle headliners (single-record, first benched r10; the
    # fixture staging bills to attempt 1 and best-of-N drops it)
    "q_iceberg_mor_delete": (1.667, 1.667),
    "q_iceberg_wap": (0.344, 0.344),
    "q_stream_iceberg_sink": (3.428, 3.428),
    "q_llm_minhash_index_remove": (1.052, 1.052),
}


def _loadavg() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        return None


# ---------------------------------------------------------------------------
# Ambient-load sentinel for the time-band gate. The TIME_BANDS were
# recorded across r1–r8; this shared sandbox now shows minute-scale
# weather in which UNTOUCHED queries with byte-identical plans run
# 2–4× their bands (r11: q_topk — a plain TakeOrderedAndProject — hit
# 2.8 s best-of-5 vs its 0.71–0.94 band, then 1.0 s an hour later with
# zero code change). Gating raw seconds against quiet-machine bands
# under that weather fails on noise, not regressions. The sentinel is
# a REPO-CODE-INDEPENDENT probe (a fixed spark.range sum — pure JVM
# codegen compute, no repo operators) measured right when a query
# exceeds its limit: the gate limit scales by the probe's observed
# inflation over its quiet-machine reference. Reported timings stay
# raw; only the pass/fail decision is load-normalized. A genuine plan
# regression cannot hide behind it — the sentinel does not run repo
# code, so it reads ~1× on a quiet machine and the raw limit applies.
SENTINEL_REF_S = 0.25  # min of 6 warm runs, quiet machine (loadavg 0.6)

# r12 (r11 verdict #2 / advice): the load factor is CAPPED — an
# uncapped factor forgave a real plan regression by exactly the load
# inflation (a 2× regression during a 2.4× spike passed silently). A
# capped factor bounds what weather can excuse; anything past the cap
# trips the gate regardless of load, and a query that passes ONLY via
# the factor gets one confirming re-run at the end of the suite (the
# spike has usually passed by then; a quiet confirm that still
# exceeds the raw limit trips).
GATE_LOAD_FACTOR_CAP = 2.0
QUIET_FACTOR = 1.2  # sentinel below this = machine is quiet


def gate_load_factor(obs: float) -> float:
    """Band-gate inflation from a sentinel observation, capped."""
    return min(GATE_LOAD_FACTOR_CAP, max(1.0, obs / SENTINEL_REF_S))


def trips_band_gate(best: float, limit: float, obs: float) -> bool:
    """True when a best-of-N over the quiet-machine limit is a gate
    failure even after (capped) load normalization. Pure so the
    contract test can pin the cap: a 2.5× regression trips even when
    the sentinel reads 10× inflated."""
    return best > limit * gate_load_factor(obs)


def confirm_trip(
    best: float, limit: float, obs: float, tripped: bool,
    band: tuple[float, float],
) -> str | None:
    """The band-gate failure message after a query's confirming run, or
    None when it passes. ``best`` is the best-of-N with the confirm run
    in it, ``obs`` the sentinel read just before that run, ``tripped``
    the in-loop gate's decision. A quiet machine decides on ``best``
    against the raw limit; a loaded one keeps the in-loop decision, and
    a kept trip cites ``best``, not the in-loop time, saying so when
    ``best`` is now inside the raw limit."""
    if gate_load_factor(obs) <= QUIET_FACTOR:
        if best <= limit:
            return None  # weather, confirmed
        return (
            f"quiet confirm run (sentinel {obs}s) still over the raw band "
            f"limit: best {best}s > {round(limit, 2)}s (observed band {band})"
        )
    if not tripped:
        return None
    verdict = (
        f"is now within the raw band limit {round(limit, 2)}s"
        if best <= limit
        else f"> raw band limit {round(limit, 2)}s"
    )
    return (
        f"in-loop trip kept, the confirm run ran under load (sentinel "
        f"{obs}s): best-of-N {best}s {verdict} (observed band {band})"
    )


def _sentinel(spark) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(500_000_000, numPartitions=32).selectExpr(
            "sum(id)"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def time_limit(name: str) -> float | None:
    band = TIME_BANDS_SF01.get(name)
    if band is None:
        return None
    return band[1] * 1.75 + 0.5


def _stage_metrics(spark, seen: set) -> tuple[int, int, int]:
    """(shuffle_read, shuffle_write, peak_exec_mem) summed over stages
    not yet in ``seen`` (which is updated). AppStatusStore is populated
    even with the UI disabled; the listener queue is asynchronous, so
    callers should only read this at a quiescent point (after an
    action completes)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm, gw = spark._jvm, spark.sparkContext._gateway
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    it = stages.iterator()
    r = w = p = 0
    while it.hasNext():
        s = it.next()
        key = (s.stageId(), s.attemptId())
        if key in seen:
            continue
        seen.add(key)
        r += s.shuffleReadBytes()
        w += s.shuffleWriteBytes()
        p = max(p, s.peakExecutionMemory())
    return int(r), int(w), int(p)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or 0)
    _load_all_modules()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: touch the JVM, parquet footers, and codegen paths once
    REGISTRY["q_agg_group"].builder(spark, sf_dir).collect()
    _sentinel(spark)  # compile the sentinel's codegen so gating
    # probes (taken only when a query exceeds its limit) are warm

    # Each query runs 2-3 times and reports the best time. Local-mode
    # fixed overhead (JVM scheduling, GC, sandbox load spikes) swings
    # single cold runs by ±0.3-1.5 s with no code change — larger than
    # many queries' entire runtime — so warm best-of-N keeps
    # run-to-run variance within ~±20% and regressions visible above
    # the noise floor. A third run happens only when the first two
    # disagree by >10% (sub-second queries mostly), so the suite stays
    # ~2× one pass.
    timings: dict[str, float] = {}
    shuffle: dict[str, dict[str, int]] = {}
    violations: dict[str, str] = {}
    time_regressions: dict[str, str] = {}
    sentinels: dict[str, dict[str, float]] = {}
    seen_stages: set = set()
    _stage_metrics(spark, seen_stages)  # absorb warm-up stages
    for name in HEADLINE:
        per_run: list[float] = []
        n = "?"
        # Up to 3 attempts normally (3rd only when the first two
        # disagree >10%); up to 2 MORE only when the best so far still
        # exceeds the band gate limit — a shared-sandbox load spike
        # spanning two attempts otherwise fails the gate on a query
        # whose plan is byte-identical (r11: untouched q_agg_group
        # swung 2.1→3.9 s between same-day runs). The extra attempts
        # exist purely to let a transient spike pass; a real plan
        # regression is slow on every attempt and still trips.
        limit = time_limit(name) if sf == 0.1 else None
        for attempt in range(5):
            t0 = time.perf_counter()
            df = REGISTRY[name].builder(spark, sf_dir)
            if name in _NOOP_SINK:
                df.write.format("noop").mode("overwrite").save()
                n = "noop"
            else:
                n = len(df.collect())
            per_run.append(time.perf_counter() - t0)
            # shuffle volume is deterministic per plan — keep the LAST
            # attempt's measurement: the first run of a layout query
            # also executes its one-time fixture staging (bucketed /
            # partitioned sink writes), whose stages would otherwise be
            # billed to the query (r5: q_scan_dpp "shuffled" 137 MB of
            # staging at sf10 under first-run attribution)
            r, w, p = _stage_metrics(spark, seen_stages)
            shuffle[name] = {"read": r, "write": w, "peak_mem": p}
            if attempt >= 1:
                best, second = sorted(per_run)[:2]
                if limit is not None and best > limit:
                    continue  # over the gate: spend the spare attempts
                if second - best <= 0.10 * best or attempt >= 2:
                    break
        timings[name] = round(min(per_run), 3)
        ceil = SHUFFLE_CEILINGS.get(sf, {}).get(name)
        if ceil is not None and shuffle[name]["write"] > ceil:
            violations[name] = (
                f"shuffle write {shuffle[name]['write']} > ceiling {ceil}"
            )
        if limit is not None and timings[name] > limit:
            # over the quiet-machine limit: probe the ambient load
            # with the repo-code-independent sentinel and normalize
            # the GATE (never the reported timing) by its inflation
            obs = _sentinel(spark)
            _stage_metrics(spark, seen_stages)  # never bill sentinel
            # stages (a ~KB final-agg exchange) to the next query
            factor = gate_load_factor(obs)
            sentinels[name] = {"obs": obs, "factor": round(factor, 2)}
            tripped = trips_band_gate(timings[name], limit, obs)
            if factor > QUIET_FACTOR and not tripped:
                print(
                    f"# WARNING: {name} passed its raw band limit only "
                    f"under load (sentinel {obs}s = {factor:.2f}x quiet "
                    "ref, capped at "
                    f"{GATE_LOAD_FACTOR_CAP}) — confirming re-run queued",
                    file=sys.stderr,
                )
            if tripped:
                time_regressions[name] = (
                    f"best-of-N {timings[name]}s > band limit "
                    f"{round(limit, 2)}s × load factor {round(factor, 2)} "
                    f"(sentinel {obs}s vs {SENTINEL_REF_S}s quiet ref, "
                    f"cap {GATE_LOAD_FACTOR_CAP}; "
                    f"observed band {TIME_BANDS_SF01[name]})"
                )
        print(
            f"# {name}: {timings[name]:.3f}s best-of-{len(per_run)} "
            f"(runs={[round(t, 3) for t in per_run]}, {n} rows, "
            f"shufW={shuffle[name]['write']})",
            file=sys.stderr,
        )

    # Confirming pass (r12): every query whose best-of-N exceeded its
    # RAW limit — whether the in-loop gate passed it via the (capped)
    # load factor or tripped it — gets one more attempt now that the
    # suite (and usually the spike) has moved on. This closes BOTH
    # directions of the sentinel's timing hole: a spike that has
    # passed by probe time reads factor ≈ 1 and would otherwise trip
    # an untouched query (the sentinel measures the probe moment, not
    # the query's attempts), while a spike still present at probe time
    # would otherwise forgive up to the cap. The re-run's min feeds
    # the reported best-of-N (still a raw timing). Decision on the
    # confirm: quiet machine + inside the raw limit → weather, clear
    # any trip; quiet machine + still over → regression, trip; loaded
    # machine → keep whatever the in-loop decision was (conservative).
    for name in [n for n in sentinels]:
        limit = time_limit(name)
        if limit is None or timings[name] <= limit:
            continue
        obs = _sentinel(spark)
        t0 = time.perf_counter()
        df = REGISTRY[name].builder(spark, sf_dir)
        if name in _NOOP_SINK:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()
        confirm = time.perf_counter() - t0
        _stage_metrics(spark, seen_stages)  # never bill to next query
        timings[name] = round(min(timings[name], confirm), 3)
        sentinels[name]["confirm_obs"] = obs
        sentinels[name]["confirm_s"] = round(confirm, 3)
        trip = confirm_trip(
            timings[name], limit, obs, name in time_regressions,
            TIME_BANDS_SF01[name],
        )
        if trip is None:
            time_regressions.pop(name, None)
        else:
            time_regressions[name] = trip
        print(
            f"# confirm {name}: {confirm:.3f}s (sentinel {obs}s) -> "
            f"best {timings[name]:.3f}s",
            file=sys.stderr,
        )

    for line in emit_lines(
        timings, shuffle, violations, sf, time_regressions, sentinels
    ):
        print(line)
    if violations:
        print(f"# SHUFFLE GATE FAILED: {violations}", file=sys.stderr)
        return 1
    if time_regressions:
        print(f"# TIME BAND GATE FAILED: {time_regressions}", file=sys.stderr)
        return 1
    return 0


def emit_lines(
    timings: dict[str, float],
    shuffle: dict[str, dict[str, int]],
    violations: dict[str, str],
    sf: float,
    time_regressions: dict[str, str] | None = None,
    sentinels: dict[str, dict[str, float]] | None = None,
) -> list[str]:
    """Stdout framing for the driver contract.

    The driver tail-captures stdout (~2 kB) and parses the LAST line as
    the round's bench record. Round 4 embedded the full per-query
    shuffle map in that line, grew it past the capture window, and the
    official record came back ``"parsed": null`` — so the shuffle
    measurements (a diagnostic, not the driver contract) go on their
    OWN earlier line, and the final line stays the compact contract
    shape only. tests/test_bench_contract.py pins both the final-line
    size (<1.5 kB) and that slicing the last 2 kB of stdout still
    yields a parsable record.
    """
    diag_line = json.dumps(
        {
            "metric": "headline_shuffle_bytes",
            # per-query shuffle read/write bytes + peak per-stage
            # execution memory (first run, AppStatusStore)
            "shuffle": shuffle,
            "shuffle_violations": violations,
            # per-query times exceeding the historical noise band
            # (BASELINE.md §2.1 / TIME_BANDS_SF01; empty = all within)
            "time_regressions": time_regressions or {},
            # ambient load markers (r10 verdict #6): this sandbox is
            # shared — 1m/5m/15m loadavg at the END of the suite, plus
            # the sentinel probe taken for any query that exceeded its
            # quiet-machine limit (obs seconds + the gate's load
            # factor), let a band trip on an UNTOUCHED query be read
            # against the machine's weather instead of blamed on a
            # plan change (r11: byte-identical plans swung 2-4×)
            "loadavg": _loadavg(),
            "sentinel": sentinels or {},
            "sf": sf,
        }
    )
    final_line = json.dumps(
        {
            "metric": "headline_suite_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            # 2 warm runs, plus a 3rd only when the first two
            # disagree by >10%, plus up to 2 more ONLY while the best
            # still exceeds the band gate limit (shared-sandbox load
            # spikes; see the attempt loop), plus one end-of-suite
            # confirming run for queries that passed ONLY via the
            # (capped) load factor — label the policy
            "timing": "adaptive-best-of-2-6-warm",
        }
    )
    assert len(final_line) < 1500, (
        f"final bench line {len(final_line)} B would overflow the "
        "driver's tail capture — trim the headline set or the shape"
    )
    return [diag_line, final_line]


if __name__ == "__main__":
    raise SystemExit(main())
