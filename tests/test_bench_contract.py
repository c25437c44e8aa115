"""Driver-contract guard for bench.py's stdout framing.

Round 4's BENCH_r04.json came back ``"parsed": null`` because the
per-query shuffle map was embedded in the single stdout JSON line and
grew it past the driver's ~2 kB tail capture, which then started
mid-line. These tests pin the fix: the FINAL stdout line is a compact
contract record (<1.5 kB) and remains parsable when only the last 2 kB
of captured stdout survive; diagnostics ride on their own earlier line.

No SparkSession needed — bench.emit_lines is pure formatting.
"""

import json

import bench

TAIL_CAPTURE = 2048  # driver's approximate tail-capture window, bytes


def _fixture(n_queries: int):
    """Synthetic per-query data shaped like a real headline run."""
    timings = {f"q_headline_query_{i:02d}": round(0.5 + i * 0.137, 3) for i in range(n_queries)}
    shuffle = {
        name: {"read": 1_000_000 + i, "write": 2_000_000 + i, "peak_mem": 64 << 20}
        for i, name in enumerate(timings)
    }
    return timings, shuffle


def test_final_line_is_compact_contract_shape():
    timings, shuffle = _fixture(len(bench.HEADLINE))
    lines = bench.emit_lines(timings, shuffle, {}, sf=0.1)
    final = lines[-1]
    assert len(final) < 1500
    rec = json.loads(final)
    assert rec["metric"] == "headline_suite_wall"
    assert rec["unit"] == "sec"
    assert rec["queries"] == timings
    assert rec["sf"] == 0.1
    assert rec["value"] == round(sum(timings.values()), 3)
    # the r4 failure mode: the shuffle map must NOT be on the contract line
    assert "shuffle" not in rec


def test_tail_capture_slice_still_parses():
    # Even with violations present (worst-case diagnostic volume), the
    # last TAIL_CAPTURE bytes of the joined stdout must contain the
    # whole final line.
    timings, shuffle = _fixture(len(bench.HEADLINE))
    violations = {n: f"shuffle write {2_000_000 + i} > ceiling 1" for i, n in enumerate(timings)}
    stdout = "\n".join(bench.emit_lines(timings, shuffle, violations, sf=0.1)) + "\n"
    tail = stdout[-TAIL_CAPTURE:]
    last_complete = [ln for ln in tail.splitlines() if ln.startswith("{")][-1]
    rec = json.loads(last_complete)
    assert rec["metric"] == "headline_suite_wall"
    assert len(rec["queries"]) == len(bench.HEADLINE)


def test_diagnostic_line_carries_shuffle_and_violations():
    timings, shuffle = _fixture(4)
    violations = {"q_headline_query_00": "shuffle write 2000000 > ceiling 1"}
    lines = bench.emit_lines(timings, shuffle, violations, sf=0.1)
    assert len(lines) == 2
    diag = json.loads(lines[0])
    assert diag["metric"] == "headline_shuffle_bytes"
    assert diag["shuffle"] == shuffle
    assert diag["shuffle_violations"] == violations


def test_band_gate_load_factor_is_capped():
    # r11 verdict #2: the uncapped factor forgave a real regression by
    # exactly the ambient load. The cap bounds what weather can excuse:
    # a 2.5x-over-limit best-of-N trips the gate even when the sentinel
    # reads 10x inflated (loadavg ~5 territory).
    limit = 2.0
    wildly_loaded = 10 * bench.SENTINEL_REF_S
    assert bench.gate_load_factor(wildly_loaded) == bench.GATE_LOAD_FACTOR_CAP
    assert bench.trips_band_gate(2.5 * limit, limit, wildly_loaded)
    # a genuine transient (within the cap) is still forgiven...
    assert not bench.trips_band_gate(
        1.5 * limit, limit, 1.8 * bench.SENTINEL_REF_S
    )
    # ...and on a quiet machine the raw limit applies unrelaxed
    assert bench.gate_load_factor(bench.SENTINEL_REF_S) == 1.0
    assert bench.trips_band_gate(1.01 * limit, limit, bench.SENTINEL_REF_S)


def test_confirm_run_decides_and_cites_the_updated_best():
    limit, band = 2.0, (0.8, 0.9)
    quiet = bench.SENTINEL_REF_S
    loaded = 2 * bench.SENTINEL_REF_S
    # a quiet confirm decides on the updated best against the raw limit
    assert bench.confirm_trip(1.9, limit, quiet, True, band) is None
    assert "best 2.1s > 2.0s" in bench.confirm_trip(2.1, limit, quiet, False, band)
    # a loaded confirm keeps the in-loop decision...
    assert bench.confirm_trip(2.5, limit, loaded, False, band) is None
    over = bench.confirm_trip(2.5, limit, loaded, True, band)
    assert "in-loop trip kept" in over and "best-of-N 2.5s > raw band limit 2.0s" in over
    # ...and a kept trip whose updated best is inside the raw limit says so
    inside = bench.confirm_trip(1.7, limit, loaded, True, band)
    assert "best-of-N 1.7s is now within the raw band limit 2.0s" in inside


def test_headroom_for_future_headline_growth():
    # The contract line must survive a wider headline set than today's:
    # if it only just fits, the next added query breaks the driver again.
    timings, shuffle = _fixture(len(bench.HEADLINE) + 8)
    final = bench.emit_lines(timings, shuffle, {}, sf=0.1)[-1]
    assert len(final) < 1500
