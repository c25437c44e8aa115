"""Summarize benchmark run records (``.perfbench/out/run-*.json``).

    python3 perfbench/summarize.py [RECORD.json ...]

For every workload: median, first and third quartile, IQR/median and n
of each metric over the untraced runs, the same for the per-layer
metrics of the traced runs, and which per-op work counts repeated
exactly across traced runs (same seed, and across seeds).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.common import OUT_DIR  # noqa: E402

RECORD_KEYS = ("setup_s", "cpu_per_op_s", "ops_per_s", "read_p50_s", "read_tail_s",
               "write_p50_s", "write_tail_s", "failed_frac", "peak_rss_mb", "space_amp",
               "datagen_s", "oracle_s", "session_start_s", "host_steal_frac")
EXACT = ("execution.jobs", "execution.stages", "catalyst.exchanges",
         "execution.shuffle_write_bytes", "arrow.rows_to_python")


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def table(rows: dict[str, list[float]]) -> list[str]:
    out = ["| metric | median | q1 | q3 | IQR/median | n |", "|---|---|---|---|---|---|"]
    for name, vals in rows.items():
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else 0.0
        out.append(f"| `{name}` | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | {len(vals)} |")
    return out


def exact_counts(runs: list[dict], workload: str) -> list[str]:
    """Per (op, count): does it repeat exactly across same-seed runs and
    across all seeds?"""
    vals: dict[tuple[str, str], dict[int, set]] = defaultdict(lambda: defaultdict(set))
    for r in runs:
        seed = r["args"]["seed"]
        seen: dict[str, int] = defaultdict(int)
        for op in r["ops"]:
            # an op is its name and which occurrence of it in the run
            key = f"{op['name']}#{seen[op['name']]}"
            seen[op["name"]] += 1
            for k in EXACT:
                if k in op["layers"]:
                    vals[(k, key)][seed].add(op["layers"][k])
        if workload == "lakehouse":
            vals[("snapshots.live_files", "episode max")][seed].add(r["extra"].get("live_files"))
    by_count: dict[str, list[tuple[bool, bool]]] = defaultdict(list)
    for (k, _op), per_seed in vals.items():
        same_seed = all(len(v) == 1 for v in per_seed.values())
        across = len(set().union(*per_seed.values())) == 1
        by_count[k].append((same_seed, across))
    out = ["| count | ops | exact for the same seed | exact across seeds |",
           "|---|---|---|---|"]
    for k, flags in by_count.items():
        n = len(flags)
        out.append(f"| `{k}` | {n} | {sum(a for a, _ in flags)}/{n} | "
                   f"{sum(b for _, b in flags)}/{n} |")
    return out


def main(paths: list[str]) -> int:
    paths = paths or sorted(glob.glob(os.path.join(OUT_DIR, "run-*.json")))
    runs = [json.load(open(p)) for p in paths]
    by_wl: dict[str, list[dict]] = defaultdict(list)
    for r in runs:
        by_wl[r["args"]["workload"]].append(r)
    for wl, rs in sorted(by_wl.items()):
        plain = [r for r in rs if not r["args"]["trace"]]
        traced = [r for r in rs if r["args"]["trace"]]
        print(f"\n### {wl}\n")
        if plain:
            print(f"Untraced runs: {len(plain)}, seeds "
                  f"{sorted({r['args']['seed'] for r in plain})}, "
                  f"{sum(r['failed'] for r in plain)} failed of "
                  f"{sum(r['attempted'] for r in plain)} ops.\n")
            print("\n".join(table({k: [r["record"][k] for r in plain] for k in RECORD_KEYS})))
        if traced:
            print(f"\nTraced runs: {len(traced)}, seeds "
                  f"{sorted(r['args']['seed'] for r in traced)}.\n")
            names = traced[0]["layers"].keys()
            print("\n".join(table({k: [r["layers"][k] for r in traced] for k in names})))
            print()
            print("\n".join(exact_counts(traced, wl)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
