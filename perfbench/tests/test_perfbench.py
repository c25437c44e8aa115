"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The tests need no JVM.
"""

from __future__ import annotations

import json
import os
import random
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.common import OpRecord, Recorder, result_hash, run_op, tail  # noqa: E402
from perfbench.lakehouse import COLS, apply_changelog, op_sequence  # noqa: E402


def test_tail_takes_highest_percentile_with_ten_beyond():
    values = list(range(1, 101))
    random.Random(0).shuffle(values)
    assert tail(values) == (90, 90.0, 100)
    # 11 samples: only the minimum still has ten above it
    assert tail([5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11]) == (1, 100 / 11, 11)
    # ten or fewer: no percentile qualifies, the maximum is reported
    assert tail([0.3, 0.1, 0.2]) == (0.3, 100.0, 3)
    assert tail([]) == (0.0, 0.0, 0)


def _rows_op(rec: Recorder, rows, expected: str):
    cols = ["k", "v"]
    return run_op(rec, "q", "read", lambda: rows,
                  lambda got: result_hash(cols, got) == expected)


def test_corrupted_expected_hash_counts_as_failed():
    rows = [(1, 0.5), (2, 1.25)]
    good = result_hash(["k", "v"], list(reversed(rows)))  # order-insensitive
    rec = Recorder()
    _rows_op(rec, rows, good)
    assert rec.summary()["failed_frac"] == 0
    corrupted = "0" * len(good)
    _rows_op(rec, rows, corrupted)
    s = rec.summary()
    assert rec.failed == 1 and s["failed_frac"] == 0.5


def test_raising_op_counts_as_failed_and_not_completed():
    rec = Recorder()

    def boom():
        raise RuntimeError("engine error")

    run_op(rec, "q", "read", boom, lambda v: True)
    run_op(rec, "q", "read", lambda: 1, lambda v: True)
    s = rec.summary()
    assert rec.failed == 1 and s["failed_frac"] == 0.5
    assert s["ops_per_s"] > 0


def test_cpu_per_op_is_taken_over_the_fixed_replays():
    rec = Recorder()
    for cpu in (4.0, 2.0, 1.5):  # a third replay, run only because time was left
        rec.ops.append(OpRecord("q", "read", 1.0, True, cpu=cpu))
    assert rec.summary()["cpu_per_op_s"] == 2.5
    rec.fixed_ops = 2
    assert rec.summary()["cpu_per_op_s"] == 3.0


def test_result_hash_matches_python_equality_classes():
    assert result_hash(["a"], [(1,)]) == result_hash(["a"], [(1.0,)])
    assert result_hash(["a"], [(True,)]) == result_hash(["a"], [(1,)])
    assert result_hash(["a", "b"], [(1, "x")]) == result_hash(["b", "a"], [("x", 1)])
    assert result_hash(["a"], [(1,)]) != result_hash(["a"], [(2,)])


def test_lakehouse_sequence_is_a_function_of_the_seed():
    a = op_sequence(7, 15_000, 1_581)
    assert a == op_sequence(7, 15_000, 1_581)
    assert a != op_sequence(8, 15_000, 1_581)
    # same length and op mix for every seed: only the inputs vary
    b = op_sequence(8, 15_000, 1_581)
    assert Counter(o["kind"] for o in a) == Counter(o["kind"] for o in b)


def test_changelog_replay():
    def row(k, price):
        return {"o_orderkey": k, "o_custkey": 1, "o_orderstatus": "O",
                "o_totalprice": price, "o_orderdate": None, "o_orderpriority": "1-URGENT"}

    def t(r):
        return tuple(r[c] for c in COLS)

    start = Counter([t(row(1, 1.0)), t(row(2, 2.0))])
    feed = [
        {**row(1, 1.0), "_change_type": "delete", "_commit_snapshot_id": 5},
        {**row(1, 9.0), "_change_type": "insert", "_commit_snapshot_id": 5},
        {**row(1, 9.0), "_change_type": "delete", "_commit_snapshot_id": 6},
        {**row(3, 3.0), "_change_type": "insert", "_commit_snapshot_id": 6},
    ]
    assert apply_changelog(start, feed) == Counter([t(row(2, 2.0)), t(row(3, 3.0))])
    missing = [{**row(4, 4.0), "_change_type": "delete", "_commit_snapshot_id": 5}]
    assert apply_changelog(start, missing) is None


def test_benchmark_json_matches_the_harness():
    from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} \
        == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert "setup_s" in END_TO_END and not END_TO_END.keys() & PER_LAYER.keys()
