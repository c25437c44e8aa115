"""Repo benchmark: closed-loop workloads through the engine's public entry
points, every result checked against an independent reference.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Workloads: ``relational`` and ``corpus`` (registered query ids through
``REGISTRY[name].builder``) and ``lakehouse`` (``SnapshotTable`` verbs and
the ``Engine`` MinHash index verbs). Inputs are generated from ``--seed``
inside the checkout. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
and the run's spans are written under ``.perfbench/out``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    OUT_DIR,
    ROOT,
    Recorder,
    RssSampler,
    cleanup_run_dir,
    host_ticks,
    isolate,
    missing_engine_files,
    process_age_s,
    tree_cpu_s,
)

WORKLOADS = ("relational", "corpus", "lakehouse")
# name: (unit, better, bound) -- reported with --trace 0
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cpu_per_op_s": ("s", "lower", 0.25),
}
SNAPSHOT_KINDS = ("append", "delete_keys", "merge", "rewrite", "expire", "changelog")
INDEX_KINDS = {"lookup": "index_lookup", "append": "index_append",
               "remove": "index_remove", "compact": "index_compact"}
PER_OP = {  # per-layer figures reported as a mean per timed op
    "registry.builder_s": "s", "registry.builder_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.exchanges": "count",
    "execution.jobs": "count", "execution.stages": "count", "execution.tasks": "count",
    "execution.executor_run_s": "s", "execution.executor_cpu_s": "s", "execution.gc_s": "s",
    "execution.shuffle_write_bytes": "B", "execution.shuffle_read_bytes": "B",
    "execution.spill_bytes": "B", "execution.input_bytes": "B",
    "execution.failed_tasks": "count",
    "arrow.python_nodes": "count", "arrow.rows_to_python": "rows",
    "arrow.bytes_to_python": "B", "arrow.bytes_from_python": "B",
    "arrow.python_stage_run_s": "s",
    "driver.result_rows": "rows", "driver.unattributed_s": "s",
    "self.registry_s": "s", "self.catalyst_s": "s", "self.execution_s": "s",
    "self.snapshots_s": "s", "self.index_s": "s",
}
# name: (unit, better) -- reported with --trace 1
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    **{k: (u, "lower") for k, u in PER_OP.items()},
    "registry.builder_share": ("ratio", "lower"),
    "execution.slot_busy_frac": ("ratio", "higher"),
    **{f"snapshots.{k}_s": ("s", "lower") for k in SNAPSHOT_KINDS},
    "snapshots.read_s": ("s", "lower"),
    "snapshots.plan_files_s": ("s", "lower"),
    "snapshots.live_files": ("count", "lower"),
    "snapshots.files_pruned_frac": ("ratio", "higher"),
    "snapshots.pending_deletes": ("count", "lower"),
    "snapshots.metadata_bytes": ("B", "lower"),
    "snapshots.bytes_written_per_user_byte": ("ratio", "lower"),
    **{f"index.{k}_s": ("s", "lower") for k in INDEX_KINDS},
    "index.bytes_on_disk": ("B", "lower"),
    # end-to-end figures that only apply to some workloads, or are not
    # steady enough run to run to gate on
    "peak_rss_mb": ("MB", "lower"),
    "read_p50_s": ("s", "lower"),
    "read_tail_s": ("s", "lower"),
    "write_p50_s": ("s", "lower"),
    "write_tail_s": ("s", "lower"),
    "failed_frac": ("ratio", "lower"),
    "space_amp": ("ratio", "lower"),
    "trace.ops_per_s": ("1/s", "higher"),
    "trace.op_wall_s": ("s", "lower"),
}


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, cores, args, run_dir, tracer, rss) -> None:
        self.spark, self.cores, self.tracer, self.rss = spark, cores, tracer, rss
        self.seed, self.seconds = args.seed, args.seconds
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.rec = Recorder(cpu_clock=lambda: tree_cpu_s() - rss.cpu_s)
        self.t: dict[str, float] = {}

    def span(self, name: str, op: str | None = None):
        return self.tracer.span(name, op) if self.tracer else nullcontext({})

    def begin_timed(self) -> None:
        if self.tracer:
            self.tracer.absorb()
        self.t["first_op_age_s"] = process_age_s()
        self.rss.start()
        self._ticks = host_ticks()

    def end_timed(self) -> None:
        self.rss.pause()
        steal, total = (b - a for a, b in zip(self._ticks, host_ticks()))
        # share of CPU time the host took from this VM while timing: the
        # contention the run met, recorded beside its figures
        self.t["host_steal_frac"] = steal / total if total else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(ctx: Ctx, summary: dict, extra: dict) -> dict:
    ops = ctx.rec.ops
    layers = [o.layers for o in ops]
    out = {k: _mean(lay.get(k, 0.0) for lay in layers) for k in PER_OP}
    wall = sum(o.latency for o in ops)
    out["registry.builder_share"] = (
        sum(lay.get("registry.builder_s", 0.0) for lay in layers) / wall if wall else 0.0)
    out["execution.slot_busy_frac"] = (
        sum(lay.get("execution.executor_run_s", 0.0) for lay in layers)
        / (wall * ctx.cores) if wall else 0.0)
    out["session.start_s"] = ctx.t["session_start_s"]
    out["session.warmup_s"] = ctx.t.get("warmup_s", 0.0)

    def kind_mean(kind):
        return _mean(o.latency for o in ops if o.layers.get("kind") == kind)

    for k in SNAPSHOT_KINDS:
        out[f"snapshots.{k}_s"] = kind_mean(k)
    out["snapshots.read_s"] = _mean(o.latency for o in ops
                                    if o.layers.get("kind") in ("read_full", "read_skip"))
    out["snapshots.plan_files_s"] = _mean(extra.get("plan_files_s", []))
    out["snapshots.live_files"] = extra.get("live_files", 0)
    out["snapshots.files_pruned_frac"] = _mean(extra.get("pruned_frac", []))
    out["snapshots.pending_deletes"] = extra.get("pending_deletes", 0)
    out["snapshots.metadata_bytes"] = extra.get("metadata_bytes", 0)
    ub = extra.get("user_bytes", 0)
    out["snapshots.bytes_written_per_user_byte"] = extra.get("bytes_written", 0) / ub if ub else 0.0
    for short, kind in INDEX_KINDS.items():
        out[f"index.{short}_s"] = kind_mean(kind)
    out["index.bytes_on_disk"] = extra.get("index_bytes", 0)
    out["peak_rss_mb"] = ctx.rss.peak / 2**20
    for k in ("read_p50_s", "read_tail_s", "write_p50_s", "write_tail_s", "failed_frac"):
        out[k] = summary[k]
    out["space_amp"] = extra.get("space_amp", 0.0)
    out["trace.ops_per_s"] = summary["ops_per_s"]
    out["trace.op_wall_s"] = _mean(o.latency for o in ops)
    assert out.keys() == PER_LAYER.keys(), out.keys() ^ PER_LAYER.keys()
    return out


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name][0]
    if name in PER_LAYER:
        return PER_LAYER[name][0]
    if name == "ops_per_s":
        return "1/s"
    return "ratio" if name.endswith("frac") or name == "space_amp" else "s"


def run(args) -> dict:
    run_dir = isolate(f"{args.workload}-{args.seed}")
    rss = RssSampler()
    spark = None
    try:
        from perfbench.common import start_spark

        t0 = time.perf_counter()
        spark, cores = start_spark(run_dir)
        session_start = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark, cores)
        ctx = Ctx(spark, cores, args, run_dir, tracer, rss)
        ctx.t["session_start_s"] = session_start
        if args.workload == "lakehouse":
            from perfbench import lakehouse

            extra = lakehouse.run(ctx)
        else:
            from perfbench import queries

            extra = queries.run(ctx, args.workload)
        if tracer:
            os.makedirs(OUT_DIR, exist_ok=True)
            tracer.dump(os.path.join(
                OUT_DIR, f"spans-{args.workload}-seed{args.seed}-{os.getpid()}.json"))
    finally:
        try:
            rss.close()
            if spark is not None:
                from perfbench.common import stop_spark

                stop_spark(spark)
        finally:
            cleanup_run_dir(run_dir)

    summary = ctx.rec.summary()
    setup = ctx.t["first_op_age_s"] - ctx.t["datagen_s"] - ctx.t["oracle_s"]
    record = {
        "setup_s": setup,
        **summary,
        "peak_rss_mb": rss.peak / 2**20,
        "peak_rss_parts_mb": rss.peak_parts,
        "space_amp": extra.get("space_amp", 0.0),
        "datagen_s": ctx.t["datagen_s"],
        "oracle_s": ctx.t["oracle_s"],
        "session_start_s": ctx.t["session_start_s"],
        "host_steal_frac": ctx.t["host_steal_frac"],
    }
    layer = per_layer(ctx, summary, extra) if args.trace else {}
    ops = [{"name": o.name, "kind": o.kind, "latency": o.latency,
            "cpu": o.cpu, "ok": o.ok, "error": o.error, "layers": o.layers}
           for o in ctx.rec.ops]
    return {"record": record, "layers": layer, "ops": ops, "extra": extra,
            "attempted": ctx.rec.attempted, "failed": ctx.rec.failed}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = missing_engine_files()
    if missing:
        print(f"perfbench: engine files missing under {ROOT}: {', '.join(missing)}",
              file=sys.stderr)
        return 2
    try:
        res = run(args)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1

    rec = res["record"]
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"run-{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}-{os.getpid()}.json"), "w") as f:
        json.dump({"args": vars(args), **res}, f, indent=1, default=str)
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={res['attempted']} failed={res['failed']}")
    print(f"# read_tail_s is p{rec['read_tail_pct']:.1f} of n={rec['read_n']} reads; "
          f"write_tail_s is p{rec['write_tail_pct']:.1f} of n={rec['write_n']} writes")
    for k in ("setup_s", "cpu_per_op_s", "ops_per_s", "read_p50_s", "read_tail_s",
              "write_p50_s", "write_tail_s", "failed_frac", "peak_rss_mb", "space_amp",
              "datagen_s", "oracle_s", "session_start_s", "host_steal_frac"):
        print(f"# {k:16s} {rec[k]:.6g} {unit_of(k)}")
    for k, v in sorted(res["layers"].items()):
        print(f"# {k:40s} {v:.6g} {unit_of(k)}")
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": rec[k], "unit": u} for k, (u, _b, _x) in END_TO_END.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
