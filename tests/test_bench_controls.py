"""Burst-localization logic in bench.py (round 13).

BENCH_r12 was collected during a co-tenant CPU burst that inflated two
alphabetically contiguous key blocks; the judge had to adjudicate by
hand with an idle-box rerun. bench.py now interleaves a control-key
re-timing every WINDOW_SIZE keys and flags burst windows from the
artifact alone — these tests pin the flagging semantics with synthetic
load shapes (the real bench run is the driver's job, not pytest's).
"""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)


def test_burst_flagged_against_run_median():
    # idle run with a two-window co-tenant burst (the r12 shape):
    # windows 2 and 3 read hot vs the run's own median
    ratios = [1.0, 0.9, 2.4, 2.6, 1.1, 1.0, 0.95, 1.05]
    assert bench.flag_bursts(ratios) == [2, 3]


def test_uniform_ambient_load_not_flagged():
    # globally slow box: every window lifted together — that is the
    # whole-run CONTROL_KEYS signal, not a window burst
    ratios = [2.1, 2.0, 2.2, 1.9, 2.05, 2.1]
    assert bench.flag_bursts(ratios) == []


def test_none_entries_skipped_and_short_runs_unflagged():
    assert bench.flag_bursts([None, 1.0, None, 3.0]) == [3]
    assert bench.flag_bursts([5.0]) == []  # one window: no comparison
    assert bench.flag_bursts([]) == []
    assert bench.flag_bursts([None, None]) == []


def test_threshold_boundary():
    # exactly at threshold × median flags; just under does not
    ratios = [1.0, 1.0, bench.BURST_THRESHOLD * 1.0]
    assert bench.flag_bursts(ratios) == [2]
    ratios = [1.0, 1.0, bench.BURST_THRESHOLD * 1.0 - 0.01]
    assert bench.flag_bursts(ratios) == []


def test_expected_warm_window0_reclassified():
    # the diagnosed position-0 process-warm signature (commit ec533b4):
    # window 0 hot, window 1 already normal -> not a burst
    ratios = [2.0, 1.0, 0.95, 1.05, 1.0]
    bursts = bench.flag_bursts(ratios)
    assert bursts == [0]
    assert bench.split_expected_warm(ratios, bursts) == ([], True)


def test_expected_warm_coexists_with_genuine_burst():
    # the r13 driver shape: [0, 2] flagged, window 1 normal — window 0
    # is warm-up, window 2 stays a genuine burst
    ratios = [2.2, 1.1, 2.6, 1.0, 0.95]
    bursts = bench.flag_bursts(ratios)
    assert bursts == [0, 2]
    assert bench.split_expected_warm(ratios, bursts) == ([2], True)


def test_burst_spanning_start_not_reclassified():
    # a time-interval burst that catches window 0 also catches window 1
    # -> the positional warm signature does not match; keep both
    ratios = [2.4, 2.6, 1.0, 1.0, 0.95, 1.05]
    bursts = bench.flag_bursts(ratios)
    assert bursts == [0, 1]
    assert bench.split_expected_warm(ratios, bursts) == ([0, 1], False)


def test_expected_warm_needs_observable_window1():
    # window 1 missing or baseline-less: cannot confirm the decay shape
    assert bench.split_expected_warm([3.0], [0]) == ([0], False)
    assert bench.split_expected_warm([3.0, None, 1.0], [0]) == ([0], False)
    # and an unflagged run is passed through untouched
    assert bench.split_expected_warm([1.0, 1.0, 1.1], []) == ([], False)


def _realistic_timings(n=261):
    # registry-shaped key names (~16 chars) with a heavy-tailed cost mix
    return {
        f"llm_operator_key_{i:03d}": round(0.1 + (i % 7) * 1.3 + (i < 12) * 5.0, 3)
        for i in range(n)
    }


def test_fit_top_queries_respects_budget_and_order():
    import json

    timings = _realistic_timings()
    summary = {
        "metric": "total_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_keys": len(timings),
        "sf": 0.1,
        "detail": "BENCH_DETAIL.json",
        "controls_vs_baseline": {"agg_stats": 1.0, "agg_group_q1": 1.0},
        "control_median": 1.0,
        "window_controls": [1.0] * 9,
        "burst_windows": [],
        "expected_warm_window0": False,
        "window_ratio_median": 1.0,
        "window_median_elevated": False,
    }
    sub = bench.fit_top_queries(timings, summary)
    # the final line must fit the driver's tail capture with margin
    summary["queries"] = sub
    summary["queries_omitted"] = len(timings) - len(sub)
    line = json.dumps(summary)
    assert len(line) <= bench.SUMMARY_LINE_BUDGET < 2000
    # non-trivial coverage: dozens of keys, not a token few
    assert len(sub) >= 25
    # exactly the most expensive keys (descending-cost prefix), values intact
    ranked = sorted(timings, key=lambda k: (-timings[k], k))
    assert list(sub) == ranked[: len(sub)]
    assert all(sub[k] == timings[k] for k in sub)


def test_fit_top_queries_small_set_fits_entirely():
    timings = {"agg_stats": 1.0, "join_inner": 0.4}
    sub = bench.fit_top_queries(timings, {"metric": "total_wall_sec"})
    assert sub == {"agg_stats": 1.0, "join_inner": 0.4}


def test_fit_top_queries_budget_counts_bytes():
    """A non-ASCII key is budgeted by the UTF-8 bytes of the line as
    printed, not by its characters."""
    import json

    timings = {f"ключ_{i:03d}": float(300 - i) for i in range(300)}
    summary = {"metric": "total_wall_sec", "note": "é" * 40}
    sub = bench.fit_top_queries(timings, summary, budget=600)
    summary["queries"] = sub
    summary["queries_omitted"] = len(timings) - len(sub)
    line = json.dumps(summary)
    assert len(line.encode()) <= 600
    assert sub  # some keys fit
    # the next key would have crossed the byte budget
    nxt = sorted(timings, key=lambda k: (-timings[k], k))[len(sub)]
    summary["queries"] = dict(sub, **{nxt: timings[nxt]})
    summary["queries_omitted"] -= 1
    assert len(json.dumps(summary).encode()) > 600


def test_window_constants_sane():
    # the interleave must cover a 257-key run with >=2 windows for the
    # median to mean anything, and the control must be a registered key
    assert 257 // bench.WINDOW_SIZE >= 2
    from adlspark.registry import all_queries

    assert bench.WINDOW_CONTROL_KEY in all_queries()
