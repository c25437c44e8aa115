"""The ``relational`` and ``corpus`` workloads: registered query ids run
through ``REGISTRY[name].builder`` in seed-permuted passes, each result
checked against the query's DuckDB oracle evaluated once per seed."""

from __future__ import annotations

import random
import time

from perfbench.common import result_hash, run_op

# TPC-H, star join, windows, top-k and the DPP layout scan: per-op driver
# overhead (builder, catalog.load_tables, planning, job scheduling) is
# most of each op; no Python kernel runs.
RELATIONAL = (
    "q_tpch_q01", "q_tpch_q05", "q_tpch_q18", "q_agg_group",
    "q_join_multiway", "q_win_rank", "q_topk", "q_scan_dpp",
)
# Arrow/numpy kernels (PNG decode, MinHash, SemDeDup: one per kernel
# family) and JVM execution do a large part of the work.
CORPUS = ("q_mm_png_decode", "q_llm_minhash_dedup", "q_llm_semdedup_capped")
# (ops, relational sf, corpus_sf) of the generated twin
SHAPES = {
    "relational": (RELATIONAL, 0.01, 0.05),
    "corpus": (CORPUS, 0.001, 0.1),
}
# Timed passes run until --seconds have passed, but never fewer than this:
# every op is measured at least three times per run.
MIN_PASSES = 3


def expected_hashes(names, data_dir: str) -> dict[str, str]:
    """Each op's expected result hash from its registered DuckDB oracle."""
    from iceberg_twist_spark.registry import REGISTRY
    from tools.check import duck_connection

    con = duck_connection(data_dir)
    out = {}
    for name in names:
        cur = con.execute(REGISTRY[name].oracle)
        out[name] = result_hash([c[0] for c in cur.description], cur.fetchall())
    con.close()
    return out


def run(ctx, workload: str) -> dict:
    from bench import _NOOP_SINK
    from iceberg_twist_spark.registry import REGISTRY, _load_all_modules

    from perfbench.common import generate

    names, sf, corpus_sf = SHAPES[workload]
    _load_all_modules()
    ctx.t["datagen_s"] = generate(ctx.spark, ctx.data_dir, ctx.seed, sf, corpus_sf)
    t0 = time.perf_counter()
    expected = expected_hashes(names, ctx.data_dir)
    ctx.t["oracle_s"] = time.perf_counter() - t0
    rng = random.Random(ctx.seed)
    spark, data_dir, tracer = ctx.spark, ctx.data_dir, ctx.tracer
    counter = iter(range(1 << 30))

    def op(name: str, timed: bool) -> None:
        spec = REGISTRY[name]
        op_id = f"{next(counter)}:{name}"
        st: dict = {}

        def call():
            with ctx.span(f"op:{name}", op_id) as span:
                st["span"] = span
                t_b = time.perf_counter()
                with ctx.span("registry.builder", op_id):
                    if tracer:
                        tracer.group(f"b:{op_id}")
                    df = spec.builder(spark, data_dir)
                st["builder_s"] = time.perf_counter() - t_b
                st["df"] = df
                with ctx.span("action", op_id):
                    if tracer:
                        tracer.group(f"x:{op_id}")
                    if name in _NOOP_SINK:
                        df.write.format("noop").mode("overwrite").save()
                        return None
                    return df.collect()

        def after(wall):
            if not tracer:
                return {}
            return tracer.op_layers(op_id, wall, st["builder_s"], st["df"],
                                    op_span=st["span"])

        def check(rows):
            df = st["df"]
            if rows is None:  # noop-sink op: untimed collect
                rows = df.collect()
            st["rows"] = len(rows)
            return result_hash(df.columns, rows) == expected[name]

        if not timed:
            call()
            return
        r = run_op(ctx.rec, name, "read", call, check, after if tracer else None)
        if tracer:
            r.layers["driver.result_rows"] = st.get("rows", 0)
            tracer.absorb()  # the untimed check's jobs belong to no op

    t0 = time.perf_counter()
    with ctx.span("session.warmup"):
        for name in rng.sample(names, len(names)):
            op(name, timed=False)
    ctx.t["warmup_s"] = time.perf_counter() - t0
    ctx.begin_timed()
    t_measure = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t_measure < ctx.seconds:
        for name in rng.sample(names, len(names)):
            op(name, timed=True)
        passes += 1
        if passes == MIN_PASSES:
            ctx.rec.fixed_ops = ctx.rec.attempted
    ctx.end_timed()
    return {}
