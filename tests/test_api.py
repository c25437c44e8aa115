"""Engine façade tests — the public API a reference user would adopt."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_twist_spark.api import Engine
from iceberg_twist_spark.sources.snapshots import SnapshotTable


def _engine(spark, sf_dir):
    return Engine(spark, sf_dir)


def test_table_sql_and_run_agree(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    n_api = eng.table("lineitem").count()
    n_sql = eng.sql("SELECT count(*) AS c FROM lineitem").collect()[0].c
    assert n_api == n_sql > 0
    assert "q_agg_group" in Engine.operators()
    assert eng.run("q_agg_group").count() == 6


def test_exact_dedup_keeps_one_per_hash(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    docs = eng.table("documents")
    deduped = Engine.exact_dedup(docs, "text", "doc_id")
    hashes = deduped.selectExpr("sha2(lower(trim(text)), 256) AS h")
    assert hashes.count() == hashes.distinct().count()


def test_exact_dedup_removes_synthetic_dups(spark):
    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "  hello world "), (3, "unique")],
        "doc_id long, text string",
    )
    kept = Engine.exact_dedup(df, "text", "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]  # keeper = min id


def test_cosine_topk_probe(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    emb = eng.table("embeddings")
    probe = [float(x) for x in emb.first().embedding]
    top = Engine.cosine_topk(emb, "embedding", probe, k=3).collect()
    assert len(top) == 3
    # the probe itself is in the corpus → top hit is itself with cos≈1
    assert abs(top[0].cos_sim - 1.0) < 1e-9


def test_unknown_table_raises(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    try:
        eng.table("nope")
        raise AssertionError("expected KeyError")
    except KeyError as e:
        assert "nope" in str(e)


def test_snapshot_table_via_engine(spark, sf_dir):
    import tempfile

    from iceberg_twist_spark.api import Engine

    eng = Engine(spark, sf_dir)
    tbl = eng.snapshot_table(tempfile.mkdtemp(prefix="itws_api_snap_"))
    orders = eng.table("orders").select("o_orderkey", "o_orderstatus")
    tbl.create(orders.filter("o_orderkey % 2 = 0"))
    tbl.append(orders.filter("o_orderkey % 2 = 1"))
    assert tbl.read().count() == orders.count()
    assert tbl.read(snapshot_id=1).count() == orders.filter("o_orderkey % 2 = 0").count()


def test_scd2_helper_matches_registered_query(spark, sf_dir):
    from pyspark.sql import functions as F

    from iceberg_twist_spark.api import Engine
    from iceberg_twist_spark.registry import REGISTRY

    eng = Engine(spark, sf_dir)
    events = eng.table("events")
    generic = Engine.scd2(events, "user_id", "event_type", "ts")
    registered = REGISTRY["q_scd2_build"].builder(spark, sf_dir)
    # same number of versions; same count of open (current) rows
    assert generic.count() == registered.count()
    assert (
        generic.filter("is_current").count()
        == registered.filter("is_current = 1").count()
    )


def test_match_sequence_helper(spark, sf_dir):
    from iceberg_twist_spark.api import Engine
    from iceberg_twist_spark.registry import REGISTRY

    eng = Engine(spark, sf_dir)
    events = eng.table("events")
    hits = Engine.match_sequence(
        events, "user_id", "event_type", "ts",
        ["view", "click", "purchase"], within_seconds=86_400,
    )
    total = REGISTRY["q_seq_pattern"].builder(spark, sf_dir).agg(
        {"n_matches": "sum"}
    ).collect()[0][0]
    assert hits.count() == (total or 0)


def test_semdedup_helper_matches_registered(spark, sf_dir):
    from pyspark.sql import functions as F

    from iceberg_twist_spark.api import Engine
    from iceberg_twist_spark.registry import REGISTRY

    eng = Engine(spark, sf_dir)
    emb = eng.table("embeddings")
    generic = Engine.semdedup(emb, "embedding", "vec_id")
    registered = REGISTRY["q_llm_semdedup"].builder(spark, sf_dir)
    # centroid choice is the same (vec_id < 16 == smallest 16 keys),
    # so keep/drop decisions must be identical
    assert (
        generic.filter(~F.col("is_kept")).count()
        == registered.filter("NOT is_kept").count()
    )
    assert generic.count() == registered.count()


def test_semdedup_helper_runs_each_kernel_in_one_plan_node(spark, sf_dir):
    """Engine.semdedup shares q_llm_semdedup's body: the assignment is
    checkpointed, so no Python UDF repeats across executed-plan nodes."""
    from iceberg_twist_spark.api import Engine
    from tools.explain_audit import repeated_python_udfs

    generic = Engine.semdedup(Engine(spark, sf_dir).table("embeddings"), "embedding", "vec_id")
    plan = generic._jdf.queryExecution().executedPlan().toString()
    assert repeated_python_udfs(plan) == []
    assert "pair_batches" in plan


def test_perceptual_hash_helper(spark, sf_dir):
    from iceberg_twist_spark.api import Engine
    from iceberg_twist_spark.multimodal import build_phash_media

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = build_phash_media(docs)
    ph = Engine.perceptual_hash(media, "media", "doc_id")
    assert ph.columns == ["doc_id", "h1", "h2"]
    assert ph.count() == docs.count()


def test_decontaminate_helper(spark):
    from iceberg_twist_spark.api import Engine

    corpus = spark.createDataFrame(
        [
            (1, "lazy the quick brown dog runs"),   # shares "the quick brown"
            (2, "completely different words entirely here"),
            (3, "to o"),                             # < 3 words: no gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in Engine.decontaminate(
        corpus, bench, "text", "doc_id").collect()}
    assert out[1].is_contaminated and out[1].n_contam == 1
    assert not out[2].is_contaminated and out[2].n_contam == 0
    assert 3 not in out  # too short to shingle


def test_decontaminate_matches_registered(spark, sf_dir):
    from pyspark.sql import functions as F

    from iceberg_twist_spark.api import Engine
    from iceberg_twist_spark.registry import REGISTRY

    docs = Engine(spark, sf_dir).table("documents")
    generic = Engine.decontaminate(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        "text",
        "doc_id",
        k=3,
    )
    registered = REGISTRY["q_llm_decontaminate"].builder(spark, sf_dir)
    a = {tuple(r) for r in generic.collect()}
    b = {tuple(r) for r in registered.collect()}
    assert a == b


def test_pack_greedy_helper(spark):
    from iceberg_twist_spark.api import Engine

    df = spark.createDataFrame(
        [("en", 1, 3), ("en", 2, 3), ("en", 3, 3), ("fr", 4, 9)],
        "lang string, doc_id long, tokens long",
    )
    out = {r.doc_id: r for r in Engine.pack_greedy(
        df, "doc_id", "tokens", group_col="lang", budget=5).collect()}
    # en: cumsum 3,6,9 -> bins floor((c-1)/5) = 0,1,1; fr: 9 -> bin 1
    assert [out[i].bin_id for i in (1, 2, 3, 4)] == [0, 1, 1, 1]
    assert out[3].cum_tokens == 9


def test_pack_greedy_matches_registered(spark, sf_dir):
    from pyspark.sql import functions as F

    from iceberg_twist_spark.api import Engine
    from iceberg_twist_spark.llm.prep import PACK_BUDGET
    from iceberg_twist_spark.registry import REGISTRY

    docs = Engine(spark, sf_dir).table("documents").select(
        "lang", "doc_id", F.size(F.split("text", " ")).alias("tokens")
    )
    generic = (
        Engine.pack_greedy(docs, "doc_id", "tokens", group_col="lang",
                           budget=PACK_BUDGET)
        .groupBy("lang", "bin_id")
        .agg(F.count("*").alias("docs"),
             F.sum("tokens").cast("long").alias("bin_tokens"))
    )
    registered = REGISTRY["q_llm_pack_greedy"].builder(spark, sf_dir)
    assert {tuple(r) for r in generic.collect()} == {
        tuple(r) for r in registered.collect()
    }


def test_quality_gate_helper(spark):
    from iceberg_twist_spark.api import Engine

    df = spark.createDataFrame(
        [("a", 1, 4.0), ("a", 2, 3.0), ("a", 3, 2.0), ("a", 4, 1.0)],
        "grp string, doc_id long, score double",
    )
    kept = Engine.quality_gate(df, "score", "grp", keep_frac=0.5,
                               tiebreak_col="doc_id")
    # percent_rank over 4 rows = 0, 1/3, 2/3, 1 -> keep the top two
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]


def test_profile_matches_registered(spark, sf_dir):
    from iceberg_twist_spark.api import Engine
    from iceberg_twist_spark.operators.profiling import _PROFILE_COLS
    from iceberg_twist_spark.registry import REGISTRY

    li = Engine(spark, sf_dir).table("lineitem")
    generic = Engine.profile(li, [c for c, _ in _PROFILE_COLS])
    registered = REGISTRY["q_profile_table"].builder(spark, sf_dir)
    assert {tuple(r) for r in generic.collect()} == {
        tuple(r) for r in registered.collect()
    }


def test_profile_table_refuses_non_double_numeric_columns(spark, sf_dir, monkeypatch):
    """q_profile_table stacks numeric columns as double; a column of
    another numeric type is refused instead of silently coerced."""
    import pytest

    from iceberg_twist_spark.operators import profiling
    from iceberg_twist_spark.registry import REGISTRY

    monkeypatch.setattr(
        profiling, "_PROFILE_COLS", profiling._PROFILE_COLS + (("l_orderkey", True),)
    )
    with pytest.raises(TypeError, match="l_orderkey is bigint"):
        REGISTRY["q_profile_table"].builder(spark, sf_dir)


def test_ann_index_facade_matches_brute_force(spark, sf_dir):
    """build_ann_index + ann_search must return exactly the vectors a
    brute-force rescan of the probed clusters would — and every file
    of the index must really be partitioned on ``cluster`` (under its
    ``component``)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from iceberg_twist_spark.api import Engine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probe = [float(x) for x in emb.filter("vec_id = 0").collect()[0].embedding]
    path = os.path.join(tempfile.mkdtemp(prefix="itws_annidx_"), "idx")
    try:
        Engine.build_ann_index(emb, "embedding", "vec_id", path)
        entries = SnapshotTable(spark, path)._head()["files"].values()
        assert entries and all(set(e["partition"]) == {"component", "cluster"} for e in entries)
        got = Engine.ann_search(spark, path, probe, k=5, nprobe=16)  # all clusters
        rows = got.collect()
        assert len(rows) == 5
        assert rows[0].vec_id == 0 and rows[0].cos_sim == 1.0  # probe finds itself
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        # nprobe=16 == n_clusters -> must equal the brute-force top-5
        from iceberg_twist_spark.common import r4
        from iceberg_twist_spark.llm.similarity import _dot, _norm

        p = F.array(*[F.lit(x) for x in probe])
        brute = (
            emb.select(
                "vec_id",
                r4(_dot(F.col("embedding"), p) / (_norm(F.col("embedding")) * _norm(p))).alias("cos_sim"),
            )
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(5)
            .collect()
        )
        assert [tuple(r) for r in rows] == [tuple(r) for r in brute]
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


def test_collapse_runs_facade(spark):
    """Facade run-collapse must equal a Python reference and leave
    non-text columns untouched."""
    from iceberg_twist_spark.api import Engine

    rows = [
        (1, "a a b b b c"),
        (2, "x"),
        (3, "y y"),
        (4, "a b a b"),  # non-consecutive repeats stay
    ]
    df = spark.createDataFrame(rows, "k long, text string")
    got = {r.k: r.text for r in Engine.collapse_runs(df, "text").collect()}
    def ref(s):
        out = []
        for w in s.split(" "):
            if not out or out[-1] != w:
                out.append(w)
        return " ".join(out)
    assert got == {k: ref(t) for k, t in rows}


def test_write_bucketed_join_has_no_key_exchange(spark, sf_dir):
    """Two facade-bucketed tables must join with zero Exchange on the
    join keys (only the downstream agg may shuffle)."""
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from iceberg_twist_spark.api import Engine

    base = tempfile.mkdtemp(prefix="itws_bktapi_")
    sfx = uuid.uuid4().hex[:8]
    li_t, od_t = f"t_li_{sfx}", f"t_od_{sfx}"
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderstatus"
        )
        Engine.write_bucketed(li, "l_orderkey", os.path.join(base, "li"), li_t)
        Engine.write_bucketed(od, "o_orderkey", os.path.join(base, "od"), od_t)
        j = (
            spark.table(li_t)
            .hint("merge")
            .join(spark.table(od_t), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "hashpartitioning(l_orderkey" not in plan
        assert "hashpartitioning(o_orderkey" not in plan
        assert j.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {li_t}")
        spark.sql(f"DROP TABLE IF EXISTS {od_t}")
        shutil.rmtree(base, ignore_errors=True)


def test_cosine_pairs_guard_refuses_large_corpus(monkeypatch):
    """The exact all-pairs baseline must refuse production-sized inputs
    with a pointer to the bucketed ANN paths (VERDICT r4 #9)."""
    import pytest

    from iceberg_twist_spark.llm.similarity import (
        COSINE_PAIRS_MAX_ROWS,
        _guard_exact_pairs,
    )

    _guard_exact_pairs(COSINE_PAIRS_MAX_ROWS)  # at the cap: allowed
    with pytest.raises(ValueError, match="q_llm_ann_lsh"):
        _guard_exact_pairs(COSINE_PAIRS_MAX_ROWS + 1)
    monkeypatch.setenv("ITWS_COSINE_PAIRS_MAX", "10")
    with pytest.raises(ValueError, match="refuses 11"):
        _guard_exact_pairs(11)
    _guard_exact_pairs(10)


def test_line_dedup_facade(spark):
    """Boilerplate blocks (in >= min_df docs) vanish from every doc;
    unique blocks survive verbatim."""
    from iceberg_twist_spark.api import Engine

    bp = "x1 x2 x3 x4"
    rows = [
        (1, f"{bp} a b c d"),
        (2, f"{bp} e f g h"),
        (3, f"{bp} i j k l"),
        (4, "m n o p q r s t"),
    ]
    df = spark.createDataFrame(rows, "k long, text string")
    out = {r.k: r for r in Engine.line_dedup(df, "text", "k", block_words=4, min_df=3).collect()}
    assert out[1].cleaned_text == "a b c d"
    assert out[1].n_boilerplate == 1 and out[1].n_blocks == 2
    assert out[4].cleaned_text == "m n o p q r s t"
    assert out[4].n_boilerplate == 0


def test_near_dup_pairs_facade(spark):
    """Planted near-dups (one word changed) are found with the right
    Jaccard; unrelated docs never pair; pairs are (lo, hi)-oriented."""
    from iceberg_twist_spark.api import Engine

    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" if i != 20 else "CHANGED" for i in range(40))
    rows = [
        (1, base),
        (2, near),
        (3, " ".join(f"z{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "k long, text string")
    got = Engine.near_dup_pairs(df, "text", "k").collect()
    assert len(got) == 1 and (got[0].doc_a, got[0].doc_b) == (1, 2)
    # 38 shared of 38+3 distinct trigrams each (3 touch position 20):
    # J = 35/41
    assert abs(got[0].jaccard - 35 / 41) < 1e-3
    assert Engine.near_dup_pairs(df, "text", "k", tau=0.99).count() == 0


def test_near_dup_pairs_tau_derived_banding(spark):
    """The facade's banding derives from tau (lsh_params), so planted
    pairs just above the threshold are recovered at BOTH a low and a
    high tau — the r6 facade's fixed 4×4 banding detected a true
    J ≈ 0.55 pair with probability ~0.07 per band set and silently
    under-recalled any tau below its S-curve knee (~0.7)."""
    from iceberg_twist_spark.api import Engine
    from iceberg_twist_spark.llm.dedup import lsh_params

    # sanity on the derivation itself: sharper bands at higher tau,
    # and ≥0.9 detection probability at J = tau for each
    assert lsh_params(0.2) == (16, 1)
    # 8×2 at J=0.5 detects with p=0.8999 — a hair under the 0.9 floor,
    # so the derivation correctly stays at the wider 16×1 banding
    assert lsh_params(0.5) == (16, 1)
    assert lsh_params(0.6) == (8, 2)
    assert lsh_params(0.9) == (4, 4)

    # tau=0.5 plant: 30-word shared prefix of 40 → 28 shared trigrams
    # of 38 each → J = 28/48 ≈ 0.583
    mid_a = " ".join(f"w{i}" for i in range(40))
    mid_b = " ".join((f"w{i}" if i < 30 else f"y{i}") for i in range(40))
    # tau=0.9 plant: one word changed in 60 → 55 shared of 58 each →
    # J = 55/61 ≈ 0.902
    hi_a = " ".join(f"v{i}" for i in range(60))
    hi_b = " ".join((f"v{i}" if i != 30 else "CHANGED") for i in range(60))
    rows = [
        (1, mid_a),
        (2, mid_b),
        (3, hi_a),
        (4, hi_b),
        (5, " ".join(f"z{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "k long, text string")
    mid = {(r.doc_a, r.doc_b) for r in Engine.near_dup_pairs(df, "text", "k", tau=0.5).collect()}
    assert (1, 2) in mid and (3, 4) in mid
    hi = {(r.doc_a, r.doc_b) for r in Engine.near_dup_pairs(df, "text", "k", tau=0.9).collect()}
    assert hi == {(3, 4)}  # the J≈0.58 pair fails exact verification


def test_minhash_index_incremental_dedup(spark, tmp_path):
    """The incremental-dedup lifecycle: build an index on corpus A,
    query a new batch B against it — a B-doc near-duplicating an
    A-doc pairs across generations, a planted pair within B pairs
    too, unrelated docs never pair; then append B and a later batch C
    finds its near-dup against the APPENDED doc."""
    from iceberg_twist_spark.api import Engine

    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" if i != 20 else "CHANGED" for i in range(40))
    other = " ".join(f"z{i}" for i in range(40))
    a_rows = [(1, base), (2, other)]
    dfa = spark.createDataFrame(a_rows, "k long, text string")
    path = Engine.build_minhash_index(dfa, "text", "k", str(tmp_path / "mh"))

    b1 = " ".join(f"y{i}" for i in range(40))
    b2 = " ".join(f"y{i}" if i != 5 else "EDIT" for i in range(40))
    b_rows = [(10, near), (11, b1), (12, b2)]
    dfb = spark.createDataFrame(b_rows, "k long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in Engine.near_dup_pairs_against_index(dfb, "text", "k", path).collect()
    }
    assert (1, 10) in got       # new-vs-stored, J = 35/41
    assert abs(got[(1, 10)] - 35 / 41) < 1e-3
    assert (11, 12) in got      # within-batch pair
    assert all(2 not in pair for pair in got)  # unrelated never pairs

    # append B; a later batch near-dups an APPENDED doc
    Engine.minhash_index_append(dfb, "text", "k", path)
    c = " ".join(f"y{i}" if i != 30 else "LATER" for i in range(40))
    dfc = spark.createDataFrame([(20, c)], "k long, text string")
    got_c = {
        (r.doc_a, r.doc_b)
        for r in Engine.near_dup_pairs_against_index(dfc, "text", "k", path).collect()
    }
    assert (11, 20) in got_c and (12, 20) in got_c


def test_mixture_sample_facade(spark):
    """Every group downsamples toward the rarest group's count; the
    rarest group survives whole; the result is key-deterministic."""
    from iceberg_twist_spark.api import Engine

    rows = [(i, "big" if i < 400 else "small") for i in range(420)]
    df = spark.createDataFrame(rows, "k long, g string")
    out = Engine.mixture_sample(df, "g", "k")
    counts = {r.g: r.n for r in out.groupBy("g").agg(__import__("pyspark").sql.functions.count("*").alias("n")).collect()}
    assert counts["small"] == 20           # rate 1.0 keeps everything
    assert 5 <= counts["big"] <= 40        # ~20 expected, binomial jitter
    again = Engine.mixture_sample(df, "g", "k")
    assert sorted(r.k for r in out.collect()) == sorted(r.k for r in again.collect())


def test_scrub_pii_facade(spark):
    from iceberg_twist_spark.api import Engine

    df = spark.createDataFrame(
        [(1, "write to bob@example.com or call 555-0199 now")],
        "k long, text string",
    )
    r = Engine.scrub_pii(df, "text").collect()[0]
    assert r.n_emails == 1 and r.n_phones == 1
    assert r.text == "write to <EMAIL> or call <PHONE> now"


def test_triangle_counts_facade(spark):
    """K4 minus one edge: two triangles; the two diagonal nodes sit in
    both, the others in one each."""
    from iceberg_twist_spark.api import Engine

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (3, 4)], "s long, d long"
    )
    out = {r.node: r.n_triangles for r in Engine.triangle_counts(edges, "s", "d").collect()}
    assert out == {1: 2, 3: 2, 2: 1, 4: 1}


def test_zorder_facade_roundtrip(spark, tmp_path):
    """zorder_write + zorder_range: the z-range-filtered box query
    returns exactly the plain box filter's rows."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.api import Engine

    df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 50).alias("x"),
        ((F.col("id") * 7) % 80).alias("y"),
    )
    path = str(tmp_path / "zord")
    Engine.zorder_write(df, path, "x", "y")
    zlo, zhi = Engine.zorder_range(10, 20, 30, 60)
    back = spark.read.parquet(path)
    got = (
        back.filter(F.col("z").between(zlo, zhi))
        .filter("x BETWEEN 10 AND 20 AND y BETWEEN 30 AND 60")
        .select("k")
    )
    want = df.filter("x BETWEEN 10 AND 20 AND y BETWEEN 30 AND 60").select("k")
    assert sorted(r.k for r in got.collect()) == sorted(r.k for r in want.collect())
    assert want.count() > 0


def test_bpe_merge_round_facade(spark):
    """The dominant adjacent pair merges everywhere; counts line up."""
    from iceberg_twist_spark.api import Engine

    rows = [(1, "red cat red cat red dog"), (2, "red cat blue fish")]
    df = spark.createDataFrame(rows, "k long, text string")
    out = {r.k: r for r in Engine.bpe_merge_round(df, "text", "k").collect()}
    # 'red cat' occurs 3x — the winning a≠b pair
    assert out[1].merged_text == "redcat redcat red dog"
    assert out[1].n_merges == 2 and out[1].n_tokens == 6
    assert out[2].merged_text == "redcat blue fish"
    assert out[2].n_merges == 1


def test_triangle_counts_degree_flipped_closing_edge(spark):
    """The r5 advisor's counterexample: edges {(1,2),(1,3),(2,3),(2,4)}
    hold ONE triangle, but node 2's pendant edge raises its degree so
    the (deg, id) orientation stores the closing edge as 3→2 —
    canonicalizing wedges by raw id then misses it entirely."""
    from iceberg_twist_spark.api import Engine

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4)], "s long, d long"
    )
    out = {r.node: r.n_triangles for r in Engine.triangle_counts(edges, "s", "d").collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_bpe_disjoint_batch_selection():
    """The parallel-BPE batch rule: keep a candidate iff NO
    higher-ranked candidate shares a symbol — conservative (a blocked
    candidate still blocks), so kept pairs are pairwise
    symbol-disjoint and simultaneous application is order-free."""
    from collections import namedtuple

    from iceberg_twist_spark.llm.textstats import bpe_disjoint_batch

    P = namedtuple("P", "a b")
    ranked = [
        P("x", "y"),   # rank 1: kept
        P("y", "z"),   # shares y with rank 1: blocked
        P("z", "w"),   # shares z with rank 2 (blocked but still blocks)
        P("p", "q"),   # disjoint: kept
        P("m", "n"),   # disjoint: kept
        P("n", "m"),   # shares both with rank 5: blocked
    ]
    kept = bpe_disjoint_batch(ranked)
    assert [(r.a, r.b) for r in kept] == [("x", "y"), ("p", "q"), ("m", "n")]
    # kept pairs are pairwise symbol-disjoint
    syms = [s for r in kept for s in (r.a, r.b)]
    assert len(syms) == len(set(syms))
    assert bpe_disjoint_batch([]) == []


def test_bpe_train_batched_rounds_merge_many(spark):
    """A batched round learns MULTIPLE disjoint merges from one driver
    job (the 1-job-per-merge fix), and round 2 can merge a symbol
    built in round 1."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.llm.textstats import (
        BPE_BATCH_WINDOW,
        _TOKEN_PATTERN,
        bpe_disjoint_batch,
    )

    rows = [(i, "aa bb aa bb cc dd cc dd ee") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = df.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit(_TOKEN_PATTERN), 0).alias("t"),
    )
    t = F.col("t")
    cand = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) as a, element_at(t, i + 1) as b))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    ranked = (
        cand.filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .count()
        .orderBy(F.col("count").desc(), "a", "b")
        .limit(BPE_BATCH_WINDOW)
        .collect()
    )
    kept = bpe_disjoint_batch(ranked)
    # (aa,bb) and (cc,dd) are disjoint and both merge in ONE round;
    # pairs sharing aa/bb/cc/dd with a higher rank are blocked
    got = {(r.a, r.b) for r in kept}
    assert ("aa", "bb") in got and ("cc", "dd") in got


def test_bpe_train_facade_reaches_merge_target(spark):
    """Engine.bpe_train loops batched rounds until the merge target is
    met (or convergence): the merge table crosses n_merges, every
    round's rules are symbol-disjoint, and round 2 can merge a symbol
    BUILT in round 1 (multi-token units)."""
    from iceberg_twist_spark.api import Engine

    rows = [
        (i, "the quick brown fox jumps over the lazy dog and the cat")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "k long, body string")
    merges = Engine.bpe_train(df, "body", "k", n_merges=6).collect()
    assert len(merges) >= 6
    by_round: dict[int, list] = {}
    for m in merges:
        by_round.setdefault(m.round, []).append(m)
    for rnd, ms in by_round.items():
        syms = [s for m in ms for s in (m.a, m.b)]
        assert len(syms) == len(set(syms)), f"round {rnd} not disjoint"
    # a later round merges a symbol created earlier (len > any raw token
    # means it is a concatenation product)
    later = [m for m in merges if m.round > 1]
    assert any(
        len(m.a) > len("jumps") or len(m.b) > len("jumps") for m in later
    )
    # convergence stop: a tiny corpus runs out of pairs without looping
    tiny = spark.createDataFrame([(1, "x y")], "k long, body string")
    got = Engine.bpe_train(tiny, "body", "k", n_merges=50).collect()
    assert 1 <= len(got) < 50


def test_bpe_merge_round_zero_token_doc(spark):
    """Docs passing the length filter but tokenizing to zero tokens
    (whitespace/punctuation-only) must yield an empty rewrite, not an
    INVALID_ARRAY_INDEX crash from sequence(1, 0)."""
    from iceberg_twist_spark.api import Engine

    rows = [(1, "red cat red cat"), (2, "   ")]
    df = spark.createDataFrame(rows, "k long, text string")
    out = {r.k: r for r in Engine.bpe_merge_round(df, "text", "k").collect()}
    assert out[1].merged_text == "redcat redcat"
    assert out[2].n_tokens == 0 and out[2].n_merges == 0
    assert out[2].merged_text == ""


def test_scrub_pii_general_patterns(spark):
    """Facade defaults must catch uppercase emails and real NANP phone
    formats, not just the oracle fixture's lowercase/555-NNNN shapes."""
    from iceberg_twist_spark.api import Engine

    rows = [
        (1, "Mail Bob.Smith@Example.COM or call (415) 555-0199 today"),
        (2, "alt: +1-212-867-5309 and 212.867.5309 and plain 867-5309"),
    ]
    df = spark.createDataFrame(rows, "k long, text string")
    out = {r.k: r for r in Engine.scrub_pii(df, "text").collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1
    assert "<EMAIL>" in out[1].text and "<PHONE>" in out[1].text
    assert out[2].n_phones == 3
    assert out[2].text == "alt: <PHONE> and <PHONE> and plain <PHONE>"


def test_pq_ann_index_facade(spark, tmp_path):
    """build_pq_ann_index + pq_ann_search on a user DataFrame (sparse,
    non-dense keys): the PQ search's top-1 must be the vector most
    similar to the probe, and re-ranked cosines must equal the exact
    brute-force values for the ids it returns."""
    import math

    from iceberg_twist_spark.api import Engine

    # 300 deterministic 16-dim vectors around 3 centers, sparse keys
    rows = []
    for i in range(300):
        c = i % 3
        vec = [
            math.sin(0.1 * d + c * 2.1) + 0.01 * ((i * 37 + d * 11) % 97)
            for d in range(16)
        ]
        rows.append((i * 10 + 7, vec))
    df = spark.createDataFrame(rows, "id long, v array<float>")
    path = Engine.build_pq_ann_index(df, "v", "id", str(tmp_path / "pqidx"))
    probe = [float(x) for x in rows[30][1]]  # an existing center-0 vector
    got = Engine.pq_ann_search(spark, path, probe, k=5).collect()
    assert len(got) == 5
    # the noise term wraps mod 97, so ids at i-spacing 21 are near-
    # identical vectors and tie at cos 1.0 after rounding — the
    # probe's own row must be in that tied head group
    assert got[0].cos_sim == 1.0
    assert rows[30][0] in {r.vec_id for r in got if r.cos_sim == 1.0}
    # exact cosines for the returned ids match brute force
    brute = {
        r.vec_id: r.cos_sim
        for r in Engine.cosine_topk(
            df.selectExpr("id as vec_id", "v as embedding"), "embedding", probe, k=300
        ).selectExpr(
            "vec_id",
            "floor(cos_sim * 10000 + 0.5) / 10000 as cos_sim",
        ).collect()
    }
    for r in got:
        assert abs(r.cos_sim - brute[r.vec_id]) < 1e-9


def test_pq_index_append_serves_new_vectors(spark, tmp_path):
    """Incremental index maintenance: vectors appended AFTER the build
    are encoded with the frozen codebook and become searchable — a
    probe equal to an appended vector finds it at cos 1.0."""
    import math

    from iceberg_twist_spark.api import Engine

    def vec(i):
        return [
            math.sin(0.17 * d * (1 + i % 5)) + 0.05 * ((i * 31 + d * 7) % 83)
            for d in range(16)
        ]

    base_rows = [(i, vec(i)) for i in range(200)]
    new_rows = [(1000 + i, vec(1000 + i)) for i in range(50)]
    df = spark.createDataFrame(base_rows, "id long, v array<float>")
    path = Engine.build_pq_ann_index(df, "v", "id", str(tmp_path / "pqidx2"))
    df2 = spark.createDataFrame(new_rows, "id long, v array<float>")
    assert Engine.pq_index_append(df2, "v", "id", path) == path
    probe = [float(x) for x in new_rows[7][1]]
    got = Engine.pq_ann_search(spark, path, probe, k=3).collect()
    hits = {r.vec_id for r in got if r.cos_sim == 1.0}
    assert new_rows[7][0] in hits
    # the index now serves both generations
    codes = SnapshotTable(spark, path).read().filter("component = 'codes'")
    n_codes = codes.select("vec_id").distinct().count()
    assert n_codes == 250


def test_minhash_index_remove_tombstone_and_compact(spark, tmp_path):
    """Retraction lifecycle: removed docs vanish from the band
    reader AND from near_dup_pairs_against_index (no pairs against
    removed docs); compaction physically rewrites bands/arrays to the
    same live rows, clears the pending delete and expires the older
    snapshots."""
    from iceberg_twist_spark.api import Engine

    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" if i != 20 else "CHANGED" for i in range(40))
    other = " ".join(f"z{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "k long, text string"
    )
    path = Engine.build_minhash_index(df, "text", "k", str(tmp_path / "mhr"))

    # a batch near-dupping doc 1 pairs before removal...
    probe = spark.createDataFrame(
        [(10, base.replace("w7", "EDIT"))], "k long, text string"
    )
    before = {
        (r.doc_a, r.doc_b)
        for r in Engine.near_dup_pairs_against_index(
            probe, "text", "k", path
        ).collect()
    }
    assert (1, 10) in before

    # ...and not after doc 1 is removed
    Engine.minhash_index_remove(spark, path, [1])
    after = {
        (r.doc_a, r.doc_b)
        for r in Engine.near_dup_pairs_against_index(
            probe, "text", "k", path
        ).collect()
    }
    assert all(1 not in p for p in after)
    live_ts = {
        r.doc_id
        for r in Engine.read_minhash_bands(spark, path)
        .select("doc_id").distinct().collect()
    }
    assert live_ts == {2, 3}

    # compaction: same live rows, physically — no delete is left to
    # apply, only the compacted snapshot remains, and each component
    # is binpacked into one file of its own
    Engine.minhash_index_compact(spark, path)
    t = SnapshotTable(spark, path)
    assert t.pending_deletes() == 0 and len(t.snapshots()) == 1
    parts = sorted(e["partition"]["component"] for e in t._head()["files"].values())
    assert parts == ["arrays", "bands", "meta"]

    def stored(component):
        rows = t.read().filter(f"component = '{component}'").select("doc_id")
        return {r.doc_id for r in rows.distinct().collect()}

    assert stored("bands") == {2, 3}
    assert stored("arrays") == {2, 3}
    # compact with nothing pending is a no-op: no commit
    sid = t.current_snapshot_id()
    assert Engine.minhash_index_compact(spark, path) == path
    assert t.current_snapshot_id() == sid


def test_pq_index_remove_tombstone_matches_compact(spark, tmp_path):
    """PQ retraction: a removed vector stops being servable (its
    codes leave the ADC scan, its raw vector leaves the re-rank) —
    identically under the merge-on-read delete and after physical
    compaction; the frozen codebook is untouched by either."""
    import math

    from iceberg_twist_spark.api import Engine

    def vec(i):
        return [
            math.sin(0.17 * d * (1 + i % 5)) + 0.05 * ((i * 31 + d * 7) % 83)
            for d in range(16)
        ]

    rows = [(i, vec(i)) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    path = Engine.build_pq_ann_index(df, "v", "id", str(tmp_path / "pqr"))
    probe = [float(x) for x in rows[7][1]]
    assert any(
        r.vec_id == 7 and r.cos_sim == 1.0
        for r in Engine.pq_ann_search(spark, path, probe, k=3).collect()
    )

    t = SnapshotTable(spark, path)

    def stored(component):
        return t.read().filter(f"component = '{component}'")

    def codebook():
        return {(r.m, r.code, tuple(r.cw)) for r in stored("codebook").collect()}

    cb_before = codebook()
    Engine.pq_index_remove(spark, path, [7, 11])
    ts_rows = [
        (r.vec_id, r.cos_sim)
        for r in Engine.pq_ann_search(spark, path, probe, k=120).collect()
    ]
    assert all(v not in (7, 11) for v, _ in ts_rows)

    Engine.pq_index_compact(spark, path)
    assert t.pending_deletes() == 0 and len(t.snapshots()) == 1
    compact_rows = [
        (r.vec_id, r.cos_sim)
        for r in Engine.pq_ann_search(spark, path, probe, k=120).collect()
    ]
    assert compact_rows == ts_rows
    assert codebook() == cb_before
    raw = {r.vec_id for r in stored("vectors").collect()}
    assert 7 not in raw and 11 not in raw and len(raw) == 118


def _ivf_index(spark, path):
    """An 8-cluster IVF index over 200 deterministic 16-dim vectors,
    and its rows."""
    import math

    def vec(i):
        return [
            math.cos(0.13 * d * (1 + i % 7)) + 0.03 * ((i * 17 + d * 5) % 71)
            for d in range(16)
        ]

    rows = [(i, vec(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    return Engine.build_ann_index(df, "v", "id", path, n_clusters=8), rows


def test_ann_index_remove_rewrites_only_hit_clusters(spark, tmp_path):
    """IVF retraction: removed vectors leave ann_search results;
    compaction rewrites ONLY the file holding them — witnessed by the
    manifest's data-file paths: every other file is carried verbatim,
    and the one replacement, in the same cluster partition, holds the
    hit file's rows minus the removed vector. The applied delete is
    dropped, the hit file leaves the disk with the expired snapshots,
    and a second compaction commits nothing."""
    path, rows = _ivf_index(spark, str(tmp_path / "ivfr"))
    probe = [float(x) for x in rows[42][1]]
    assert any(
        r.vec_id == 42
        for r in Engine.ann_search(spark, path, probe, k=5, nprobe=8).collect()
    )
    t = SnapshotTable(spark, path)
    before = t._head()["files"]
    (hit,) = {
        t._norm_uri(r._file_path)
        for r in t.read(keep_meta=True).filter("vec_id = 42").collect()
    }

    Engine.ann_index_remove(spark, path, [42])
    got = {
        r.vec_id
        for r in Engine.ann_search(spark, path, probe, k=200, nprobe=8).collect()
    }
    assert 42 not in got and len(got) == 199

    Engine.ann_index_compact(spark, path)
    got2 = {
        r.vec_id
        for r in Engine.ann_search(spark, path, probe, k=200, nprobe=8).collect()
    }
    assert got2 == got
    after = t._head()["files"]
    assert set(before) - set(after) == {hit}
    (new,) = set(after) - set(before)
    assert after[new]["partition"] == before[hit]["partition"]
    assert after[new]["rows"] == before[hit]["rows"] - 1
    assert 42 not in {r.vec_id for r in spark.read.parquet(new).collect()}
    assert t.pending_deletes() == 0 and len(t.snapshots()) == 1
    assert not os.path.exists(hit)
    for name in os.listdir(os.path.join(path, "metadata")):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(path, "metadata", name)) as f:
                assert hit not in json.load(f)["files"]
    sid = t.current_snapshot_id()
    Engine.ann_index_compact(spark, path)
    assert t.current_snapshot_id() == sid


def test_ann_search_scans_only_probed_clusters(spark, tmp_path):
    """ann_search's IN-list of probed cluster ids reaches the scan's
    PartitionFilters, and the scan opens only those clusters' data
    files (the centroid files are pruned by their ``component``
    partition)."""
    import re

    path, rows = _ivf_index(spark, str(tmp_path / "ivfp"))
    got = Engine.ann_search(spark, path, [float(x) for x in rows[42][1]], k=5, nprobe=2)
    got.collect()
    plan = got._jdf.queryExecution().executedPlan()
    (probed,) = re.findall(r"PartitionFilters: \[[^\]]*cluster#\d+L IN \(([\d,]+)\)\]", plan.toString())
    probed = {int(c) for c in probed.split(",")}
    assert len(probed) == 2
    leaves = plan.collectLeaves()
    (scan,) = [
        leaves.apply(i) for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "FileSourceScanExec"
    ]
    entries = SnapshotTable(spark, path)._head()["files"].values()
    want = [
        e for e in entries
        if int(e["partition"]["cluster"]) in probed and e["partition"]["component"] == "data"
    ]
    assert 0 < scan.metrics().apply("numFiles").value() == len(want) < len(entries)


def test_scrub_pii_counts_match_replacements(spark):
    """A phone-shaped digit run inside an email local-part is consumed
    by the <EMAIL> replacement and must NOT be billed as a phone:
    n_phones counts on the email-redacted text, so counts always equal
    the <PHONE> replacements actually made."""
    from iceberg_twist_spark.api import Engine

    df = spark.createDataFrame(
        [(1, "reach john555-1234@x.com or 555-0199")],
        "k long, text string",
    )
    r = Engine.scrub_pii(df, "text").collect()[0]
    assert r.n_emails == 1
    assert r.n_phones == 1  # only the real phone, not the local-part
    assert r.text == "reach <EMAIL> or <PHONE>"
    assert r.text.count("<PHONE>") == r.n_phones


def test_readme_daily_ingest_recipe(spark, sf_dir, tmp_path):
    """Executes the README's 'Daily ingest at scale' code block
    VERBATIM (extracted from the fenced block tagged
    ``# recipe: daily-ingest``), so the worked example cannot rot out
    of sync with the facade. Inputs are small synthetic frames; the
    assertions check the recipe's observable outcomes: appended docs
    are banded under the stored banding, appended vectors are
    searchable, and the known near-dup batch doc is dropped."""
    import re

    from pyspark.sql import functions as F

    readme = os.path.join(os.path.dirname(os.path.dirname(__file__)), "README.md")
    with open(readme, encoding="utf-8") as fh:
        m = re.search(r"```python\n# recipe: daily-ingest\n(.*?)```", fh.read(), re.S)
    assert m, "README daily-ingest recipe block not found"
    code = m.group(1)

    texts = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(30))) for i in range(40)
    ]
    corpus = spark.createDataFrame(texts, "doc_id long, text string")
    # batch doc 100 duplicates corpus doc 3 verbatim; 101 is fresh;
    # 102 and 103 duplicate EACH OTHER (and nothing stored) — the
    # within-batch pair must keep ONE representative (min id 102), not
    # drop both (the r8 ADVICE hazard)
    fresh2 = " ".join(f"y{j}" for j in range(30))
    batch = spark.createDataFrame(
        [
            (100, texts[3][1]),
            (101, " ".join(f"x{j}" for j in range(30))),
            (102, fresh2),
            (103, fresh2),
        ],
        "doc_id long, text string",
    )
    import math

    def vec(i):
        return [math.sin(0.13 * d * (1 + i % 7)) + 0.01 * i for d in range(16)]

    vectors = spark.createDataFrame(
        [(i, vec(i)) for i in range(60)], "vec_id long, embedding array<float>"
    )
    new_vectors = spark.createDataFrame(
        [(500 + i, vec(500 + i)) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    probe = [float(x) for x in vec(505)]
    ns = {
        "spark": spark,
        "corpus": corpus,
        "batch": batch,
        "vectors": vectors,
        "new_vectors": new_vectors,
        "probe": probe,
        "idx": str(tmp_path / "lsh_idx"),
        "vec_idx": str(tmp_path / "pq_idx"),
    }
    exec(code, ns)  # noqa: S102 — the README block IS the test subject
    # the stored-dup batch doc was dropped, the fresh one survived, and
    # the within-batch dup pair kept exactly its min-id representative
    kept_ids = {r.doc_id for r in ns["keep"].select("doc_id").collect()}
    assert kept_ids == {101, 102}
    banded = {
        r.doc_id
        for r in Engine.read_minhash_bands(spark, ns["idx"]).select("doc_id").distinct().collect()
    }
    assert 101 in banded and 102 in banded
    assert 100 not in banded and 103 not in banded
    # the appended vector is searchable at cos 1.0
    hits = ns["hits"].collect()
    assert any(r.vec_id == 505 and r.cos_sim == 1.0 for r in hits)


def test_index_geometry_and_tau_guards(spark, tmp_path):
    """The r8 hardening: mismatched vector/probe widths and a
    recall-breaking tau override must RAISE instead of silently
    producing wrong codes / under-recalled pairs (Spark slice/zip_with
    truncate without error, so these are silent-wrong-answer classes)."""
    import math

    import pytest

    from iceberg_twist_spark.api import Engine

    def vec(i, d=16):
        return [math.sin(0.17 * j * (1 + i % 5)) + 0.01 * i for j in range(d)]

    df = spark.createDataFrame(
        [(i, vec(i)) for i in range(300)], "id long, v array<float>"
    )
    pq = Engine.build_pq_ann_index(df, "v", "id", str(tmp_path / "pq"))
    wrong = spark.createDataFrame(
        [(900, vec(900, 24))], "id long, v array<float>"
    )
    with pytest.raises(ValueError, match="does not match the index geometry"):
        Engine.pq_index_append(wrong, "v", "id", pq)
    with pytest.raises(ValueError, match="does not match the index geometry"):
        Engine.pq_ann_search(spark, pq, [0.0] * 24)

    ivf = Engine.build_ann_index(df, "v", "id", str(tmp_path / "ivf"))
    with pytest.raises(ValueError, match="centroid dim"):
        Engine.ann_index_append(wrong, "v", "id", ivf)
    # the happy path still appends and serves
    ok = spark.createDataFrame([(901, vec(901))], "id long, v array<float>")
    Engine.ann_index_append(ok, "v", "id", ivf)
    got = Engine.ann_search(spark, ivf, [float(x) for x in vec(901)], k=3).collect()
    assert any(r.vec_id == 901 and r.cos_sim == 1.0 for r in got)

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 3 + j) % 17}" for j in range(20))) for i in range(30)],
        "doc_id long, text string",
    )
    idx = Engine.build_minhash_index(docs, "text", "doc_id", str(tmp_path / "mh"), tau=0.9)
    batch = spark.createDataFrame([(100, "w0 w1 w2 w3 w4 w5")], "doc_id long, text string")
    with pytest.raises(ValueError, match="below the index's build tau"):
        Engine.near_dup_pairs_against_index(batch, "text", "doc_id", idx, tau=0.2)
    # tightening (tau above build tau) is allowed
    Engine.near_dup_pairs_against_index(batch, "text", "doc_id", idx, tau=0.95).collect()


def test_minhash_index_remove_of_no_keys_commits_nothing(spark, tmp_path):
    """Removing an empty key set is a no-op: no snapshot, no pending
    delete file, and the compaction after it has nothing to apply, so
    it commits nothing either (it used to rewrite every file)."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 53}" for j in range(12))) for i in range(40)],
        "doc_id long, text string",
    )
    path = Engine.build_minhash_index(docs, "text", "doc_id", str(tmp_path / "mh"))
    t = SnapshotTable(spark, path)
    snap = t.current_snapshot_id()
    Engine.minhash_index_remove(spark, path, [])
    Engine.minhash_index_remove(spark, path, docs.select("doc_id").limit(0))
    assert t.current_snapshot_id() == snap
    assert t.pending_deletes() == 0
    assert os.listdir(os.path.join(path, "deletes")) == []
    Engine.minhash_index_compact(spark, path)
    assert t.current_snapshot_id() == snap


@pytest.mark.parametrize(
    "verb",
    ["minhash_index_append", "minhash_index_remove", "minhash_index_compact", "pq_index_append"],
)
def test_index_commit_crash_keeps_previous_snapshot(spark, tmp_path, monkeypatch, verb):
    """A crash after an index verb wrote its files but before its
    snapshot commit leaves readers on the previous snapshot — the
    lookup answers exactly as before — and ``remove_orphan_files``
    deletes the staged files."""
    import math

    if verb == "pq_index_append":

        def vec(i):
            return [math.sin(0.17 * d * (1 + i % 5)) + 0.05 * ((i * 31 + d * 7) % 83) for d in range(16)]

        df = spark.createDataFrame([(i, vec(i)) for i in range(120)], "id long, v array<float>")
        path = Engine.build_pq_ann_index(df, "v", "id", str(tmp_path / "pq"))
        new = spark.createDataFrame([(1000, vec(1000))], "id long, v array<float>")

        def answer():
            return Engine.pq_ann_search(spark, path, vec(1000), k=3).collect()

        def run():
            Engine.pq_index_append(new, "v", "id", path)
    else:
        text = " ".join(f"w{i}" for i in range(40))
        docs = spark.createDataFrame(
            [(1, text), (2, text.replace("w20", "CHANGED")), (3, " ".join(f"z{i}" for i in range(40)))],
            "k long, text string",
        )
        path = Engine.build_minhash_index(docs, "text", "k", str(tmp_path / "mh"))
        if verb == "minhash_index_compact":
            Engine.minhash_index_remove(spark, path, [2])
        batch = spark.createDataFrame([(10, text.replace("w7", "EDIT"))], "k long, text string")
        later = spark.createDataFrame([(20, text.replace("w30", "LATER"))], "k long, text string")

        def answer():
            pairs = Engine.near_dup_pairs_against_index(batch, "text", "k", path)
            return sorted(tuple(r) for r in pairs.collect())

        run = {
            "minhash_index_append": lambda: Engine.minhash_index_append(later, "text", "k", path),
            "minhash_index_remove": lambda: Engine.minhash_index_remove(spark, path, [1]),
            "minhash_index_compact": lambda: Engine.minhash_index_compact(spark, path),
        }[verb]

    def files():
        return {os.path.join(r, n) for r, _, ns in os.walk(path) for n in ns if n.endswith(".parquet")}

    commit = SnapshotTable._commit

    def crash(self, *args, **kwargs):
        monkeypatch.setattr(SnapshotTable, "_commit", commit)
        raise RuntimeError("injected crash before the commit")

    want, kept = answer(), files()
    monkeypatch.setattr(SnapshotTable, "_commit", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        run()
    staged = files() - kept
    assert staged and kept <= files()
    assert answer() == want
    assert SnapshotTable(spark, path).remove_orphan_files() == len(staged)
    assert files() == kept
