"""Analytic invariants of the newer operator families, checked on the
sf0.001 fixture — complementary to the oracle-differential tests
(which pin exact values): these pin relationships that must hold for
ANY input, so they catch semantic regressions the fixtures might mask.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_twist_spark.registry import REGISTRY, _load_all_modules

_load_all_modules()


def _run(name, spark, sf_dir):
    return REGISTRY[name].builder(spark, sf_dir)


def test_histogram_bins_partition_the_table(spark, sf_dir):
    from pyspark.sql import functions as F

    hist = _run("q_agg_histogram", spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert hist.agg(F.sum("n")).first()[0] == li.count()
    rows = hist.collect()
    assert sorted(r.bin_id for r in rows) == list(range(len(rows)))
    for r in rows:
        assert r.bin_min <= r.bin_max


def test_pagerank_mass_conserved(spark, sf_dir):
    from pyspark.sql import functions as F

    pr = _run("q_graph_pagerank", spark, sf_dir)
    total = pr.agg(F.sum("pr_rank")).first()[0]
    # bidirectional graph, no dangling nodes → total mass stays 1
    assert abs(total - 1.0) < 1e-3
    assert pr.filter(F.col("pr_rank") <= 0).count() == 0


def test_transitions_count_events_minus_chain_starts(spark, sf_dir):
    from pyspark.sql import functions as F

    tr = _run("q_event_transitions", spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert tr.agg(F.sum("n")).first()[0] == n_events - n_users


def test_winsorize_tightens_the_mean_spread(spark, sf_dir):
    rows = _run("q_winsorize", spark, sf_dir).collect()
    for r in rows:
        # clipping 5% tails can only pull the mean toward the median,
        # and clip counts stay within the tail mass (±1 row rounding)
        assert r.n_clip_lo <= r.n * 0.05 + 1
        assert r.n_clip_hi <= r.n * 0.05 + 1


def test_quality_gate_keeps_half_per_language(spark, sf_dir):
    from pyspark.sql import functions as F

    kept = (
        _run("q_llm_quality_gate", spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("k"))
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for r in kept.collect():
        n = totals[r.lang]
        # percent_rank ≤ 0.5 keeps ceil((n-1)/2)+1-ish rows; allow ±1
        assert abs(r.k - (n + 1) // 2) <= 1


def test_shuffle_shards_is_a_permutation(spark, sf_dir):
    from pyspark.sql import functions as F

    sh = _run("q_llm_shuffle_shards", spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sh.count() == docs.count()
    assert sh.select("doc_id").distinct().count() == docs.count()
    # positions within each shard are 1..k with no holes
    per_shard = sh.groupBy("shard").agg(
        F.count("*").alias("k"), F.max("pos").alias("mx"), F.min("pos").alias("mn")
    )
    for r in per_shard.collect():
        assert (r.mn, r.mx) == (1, r.k)


def test_impute_mean_fills_every_hole(spark, sf_dir):
    from pyspark.sql import functions as F

    imp = _run("q_impute_mean", spark, sf_dir)
    assert imp.filter(F.col("value_imputed").isNull()).count() == 0
    holes = imp.filter(F.col("was_null"))
    assert holes.count() > 0  # the injection actually produced holes


def test_cdc_upsert_key_uniqueness_and_version_rule(spark, sf_dir):
    from pyspark.sql import functions as F

    out = _run("q_cdc_upsert", spark, sf_dir)
    assert out.count() == out.select("o_orderkey").distinct().count()
    # every key ≡0 mod 3 in the base range must carry the update version
    stale = out.filter(
        (F.col("o_orderkey") % 3 == 0)
        & (F.col("o_orderkey") < 10_000_000)
        & (F.col("version") != 2)
    )
    assert stale.count() == 0


def test_decontaminate_flags_are_consistent(spark, sf_dir):
    from pyspark.sql import functions as F

    d = _run("q_llm_decontaminate", spark, sf_dir)
    bad = d.filter(
        (F.col("is_contaminated") & (F.col("n_contam") == 0))
        | (~F.col("is_contaminated") & (F.col("n_contam") > 0))
        | (F.col("n_contam") > F.col("n_grams"))
    )
    assert bad.count() == 0
    # benchmark docs themselves are excluded from the corpus side
    assert d.filter(F.col("doc_id") % 50 == 0).count() == 0


def test_nearest_station_distances_minimal(spark, sf_dir):
    from pyspark.sql import functions as F

    near = _run("q_geo_nearest_station", spark, sf_dir)
    # one row per event, distance non-negative
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert near.count() == ev.count()
    assert near.filter(F.col("dist_km") < 0).count() == 0


def test_stream_upsert_sink_accumulates_every_event(spark, sf_dir):
    from pyspark.sql import functions as F

    out = _run("q_stream_upsert_sink", spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # one row per sensor; counts accumulate across micro-batches to
    # exactly the stream's event total
    assert out.count() == ev.select("user_id").distinct().count()
    assert out.agg(F.sum("n_events")).first()[0] == ev.count()


def test_scd2_intervals_partition_timeline(spark, sf_dir):
    """Per user: exactly one open row, no overlapping validity windows,
    and each row's valid_to equals the next row's valid_from."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.registry import REGISTRY

    scd2 = REGISTRY["q_scd2_build"].builder(spark, sf_dir)
    open_counts = scd2.groupBy("user_id").agg(
        F.sum("is_current").alias("n_open")
    )
    assert open_counts.filter("n_open != 1").count() == 0
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("valid_from")
    chained = scd2.withColumn("next_from", F.lead("valid_from").over(w))
    broken = chained.filter(
        F.col("next_from").isNotNull() & (F.col("valid_to") != F.col("next_from"))
    )
    assert broken.count() == 0


def test_islands_bounded_by_active_days(spark, sf_dir):
    from pyspark.sql import functions as F

    from iceberg_twist_spark.registry import REGISTRY

    isl = REGISTRY["q_ts_islands"].builder(spark, sf_dir)
    bad = isl.filter(
        (F.col("longest_streak_days") > F.col("active_days"))
        | (F.col("n_streaks") > F.col("active_days"))
        | (F.col("longest_streak_days") < 1)
    )
    assert bad.count() == 0


def test_interval_overlap_bounded_by_window(spark, sf_dir):
    """Overlap seconds can never exceed the narrower interval (30 min)."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.registry import REGISTRY

    ovl = REGISTRY["q_join_interval_overlap"].builder(spark, sf_dir)
    assert ovl.filter(
        (F.col("max_overlap_s") > 1800) | (F.col("max_overlap_s") <= 0)
    ).count() == 0


def test_weighted_sample_prefers_heavy_rows(spark, sf_dir):
    """The priority/weight sample must skew heavier than uniform: the
    sampled mean total_price exceeds the population mean."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.registry import REGISTRY

    sample = REGISTRY["q_sample_weighted"].builder(spark, sf_dir)
    s_mean = sample.agg(F.avg("total_price")).collect()[0][0]
    pop = spark.read.parquet(f"{sf_dir}/orders.parquet")
    p_mean = pop.agg(F.avg("o_totalprice")).collect()[0][0]
    assert s_mean > p_mean


def test_ann_recall_bounds(spark, sf_dir):
    """Pinned retrieval-quality floor: IVF recall@10 >= 0.9,
    multi-probe-LSH recall@10 >= 0.5, PQ/ADC recall@10 >= 0.8, and
    IVF-PQ recall@10 >= 0.8 on the fixtures — an index parameter
    change (nprobe, n_planes, probe radius, PQ_M/PQ_K, PQ_RERANK, the
    Lloyd round or the mean-residual reference) that silently degrades
    retrieval fails here, not in production. Measured r6 with 8-bit
    codebooks + exact re-ranking: pq 1.0/1.0, ivfpq 0.9/1.0
    (sf0.001/sf0.01); at the 100k-vector corpus twin both are 0.6
    (PERF.md corpus section)."""
    from iceberg_twist_spark.registry import REGISTRY

    rows = {
        r.method: r.recall
        for r in REGISTRY["q_llm_ann_recall"].builder(spark, sf_dir).collect()
    }
    assert rows["ivf"] >= 0.9, rows
    assert rows["lsh_multiprobe"] >= 0.5, rows
    assert rows["pq"] >= 0.8, rows
    assert rows["ivfpq"] >= 0.8, rows


def test_minhash_verified_is_exact_subset(spark, sf_dir):
    """The LSH-verified pair tier is sound and its recall is pinned:
    every (doc_a, doc_b, jaccard) it emits appears IDENTICALLY in the
    exact prefix-filtered all-pairs result (soundness — verification
    is the same exact intersection), and it finds at least 80% of the
    exact pairs on the fixture (banding recall — a band-parameter or
    signature regression that quietly drops near-dups fails here)."""
    exact = _run("q_llm_ngram_jaccard", spark, sf_dir)
    verified = _run("q_llm_minhash_verified", spark, sf_dir)
    n_exact = exact.count()
    n_verified = verified.count()
    missing_from_exact = verified.exceptAll(exact).count()
    assert missing_from_exact == 0, (
        f"{missing_from_exact} verified pairs not in the exact result"
    )
    assert n_verified >= 0.8 * n_exact, (n_verified, n_exact)


def test_global_rank_keeps_nulls_and_all_null(spark):
    """_global_rank must not drop NULL values (they bucket to 0 and
    rank first, matching a global NULLS FIRST order) and must survive
    an all-null value column via the tiebreak order."""
    from iceberg_twist_spark.operators.windows import _global_rank

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 1.0), (4, None), (5, 3.0)],
        "k long, v double",
    )
    ranked, total = _global_rank(df, "v", "k")
    rows = {r.k: r["__rank"] for r in ranked.collect()}
    assert total == 5 and len(rows) == 5          # nothing dropped
    assert sorted((rows[2], rows[4])) == [1, 2]    # nulls first...
    assert (rows[2], rows[4]) == (1, 2)            # ...in tiebreak order
    assert (rows[3], rows[5], rows[1]) == (3, 4, 5)

    allnull = spark.createDataFrame([(1, None), (2, None)], "k long, v double")
    ranked2, total2 = _global_rank(allnull, "v", "k")
    assert total2 == 2
    assert {r.k: r["__rank"] for r in ranked2.collect()} == {1: 1, 2: 2}


def test_pagerank_regimes_agree(spark, sf_dir, monkeypatch):
    """The count-gated broadcast is an EXECUTION choice, not a
    semantics choice: forcing the above-cap shuffle-join regime
    (ITWS_PAGERANK_BCAST_CAP=0) must reproduce the broadcast regime's
    ranks exactly. The shuffle plan is also hash-verified against the
    DuckDB oracle at sf1 (PERF.md, round 5); this pins the equivalence
    at every fixture SF the suite runs."""
    from iceberg_twist_spark.registry import REGISTRY

    build = REGISTRY["q_graph_pagerank"].builder
    monkeypatch.delenv("ITWS_PAGERANK_BCAST_CAP", raising=False)
    bcast = {(r.node): r.pr_rank for r in build(spark, sf_dir).collect()}
    monkeypatch.setenv("ITWS_PAGERANK_BCAST_CAP", "0")
    shuf = {(r.node): r.pr_rank for r in build(spark, sf_dir).collect()}
    assert bcast == shuf


def test_two_phase_cumsum_equals_naive_window(spark):
    """two_phase_cumsum / two_phase_percent_rank must be value-identical
    to the naive single-window forms they replace (explain-audit
    invariant (e) forbids the naive form over raw fact rows) — checked
    on a synthetic frame with ties, skewed partitions, a one-row
    partition, and bucket-boundary collisions."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from iceberg_twist_spark.operators.windows import (
        attach_range_bucket,
        two_phase_cumsum,
        two_phase_percent_rank,
    )

    rows = []
    rid = 0
    for part, n in (("a", 137), ("b", 61), ("c", 1)):
        for i in range(n):
            # values with heavy ties and a skewed range
            rows.append((part, rid, (i * 7919) % 23, float((i * 31) % 11)))
            rid += 1
    df = spark.createDataFrame(rows, "p string, k long, v long, score double")

    b = attach_range_bucket(df, "k", n_buckets=8)
    got = {
        (r.p, r.k): r.c
        for r in two_phase_cumsum(b, ["p"], ["k"], "v", "c").collect()
    }
    w = (
        Window.partitionBy("p")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.p, r.k): r.c
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    assert got == want

    b2 = attach_range_bucket(df, "score", n_buckets=8, descending=True)
    got_pr = {
        (r.p, r.k): round(r.pr, 9)
        for r in two_phase_percent_rank(
            b2, ["p"], [F.desc("score"), F.asc("k")], "pr"
        ).collect()
    }
    w2 = Window.partitionBy("p").orderBy(F.desc("score"), F.asc("k"))
    want_pr = {
        (r.p, r.k): round(r.pr, 9)
        for r in df.withColumn("pr", F.percent_rank().over(w2)).collect()
    }
    assert got_pr == want_pr


def test_broadcast_hint_sites_all_classified():
    """Invariant (d) as a PYTEST gate (it was previously enforced only
    by the tool's exit code, which wrapper shells masked — r10 found
    latent unclassified sites that way): every F.broadcast call site
    in the package must carry a sub-linearity classification in
    BROADCAST_BOUNDED, and no allowlist entry may go stale."""
    import os

    from tools.explain_audit import broadcast_hint_violations

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "iceberg_twist_spark",
    )
    assert broadcast_hint_violations(pkg) == []


def test_repeated_python_udf_invariant():
    """Invariant (g) keys a UDF by name AND result id: the two
    ``bucket_batches`` nodes of one self-joined kernel are one UDF run
    twice, while the two ``gen`` nodes of q_mm_png_filters are two
    different functions."""
    from tools.explain_audit import repeated_python_udfs

    plan = "\n".join([
        "+- MapInArrow pair_batches(vec_a#119L, eb#123)#134, [vec_a#135L], false",
        "   :  +- MapInArrow bucket_batches(vec_id#104L, nrm#108)#114, [bucket#118L], false",
        "      +- MapInArrow bucket_batches(vec_id#125L, nrm#128)#114, [bucket#132L], false",
        "   +- MapInPandas gen(doc_id#40L, media#41)#42, [doc_id#43L], false",
        "      +- MapInPandas gen(doc_id#33L, n_chars#37L)#39, [media#41], false",
        "+- ArrowEvalPython [decode(cast(fh#68 as string))#69], [pythonUDF0#89], 200",
        "+- HashAggregate(keys=[], functions=[count(1)#5L])",
        "+- Project [count(1)#5L AS n#6L]",
    ])
    assert repeated_python_udfs(plan) == ["Python UDF bucket_batches#114 in 2 plan nodes"]


def test_pagerank_job_count(spark, sf_dir, monkeypatch):
    """r12: the per-iteration rank checkpoints are LAZY — a fixed
    N_ITER loop has no per-round driver decision, so the eager form
    paid one scheduler round-trip (one job) per iteration for
    nothing; the iterations now materialize inside the consumer's
    action. AQE materializes every shuffle stage as its own job, so
    the absolute count moves with everything else the builder runs
    (the catalog's table reads, for one); the pin is therefore
    relative: the same builder with every checkpoint forced eager, in
    this session, must run at least N_ITER more jobs."""
    from iceberg_twist_spark.operators.graph import N_ITER

    tracker = spark.sparkContext.statusTracker()

    def jobs_of_one_run() -> int:
        before = set(tracker.getJobIdsForGroup(None) or ())
        df = REGISTRY["q_graph_pagerank"].builder(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return len(set(tracker.getJobIdsForGroup(None) or ()) - before)

    lazy = jobs_of_one_run()
    frame_cls = type(spark.range(1))
    checkpoint = frame_cls.localCheckpoint
    monkeypatch.setattr(
        frame_cls, "localCheckpoint",
        lambda self, eager=True, storageLevel=None: checkpoint(self, True, storageLevel),
    )
    eager = jobs_of_one_run()
    assert lazy + N_ITER <= eager, (
        f"pagerank ran {lazy} jobs lazy vs {eager} with eager checkpoints "
        f"(expected at least {N_ITER} fewer)"
    )
