"""Pin the bench.py output contract the driver depends on.

Round-6 regression: the scaling block was merged into the single
headline JSON line, the line outgrew the driver's tail capture, and
BENCH_r06.json recorded ``parsed: null`` — the round's perf signal was
lost. These tests pin the fixed contract:

* the LAST line printed is the compact headline JSON (metric/value/
  unit/queries/scopes/cold_start_sec/sf only — nothing else rides it);
* the scaling block, when present, is its own earlier line with a
  ``SCALING `` prefix so no tail parser confuses it for the headline,
  and is mirrored to the scaling_bench.json sidecar;
* the headline line stays small even with the full query roster.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench

SCALE_DIR = os.path.join(REPO, ".scale", "sf1")


def _fake_legs():
    from rta_registrations_pyspark_glue_spark.plans.queries_similarity import (
        MULTIMODAL_LEGS,
    )

    return {kind: 0.123 for kind in MULTIMODAL_LEGS}


def _fake_out():
    times = {name: 1.234 for name in bench.HEADLINE}
    return {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "scopes": {n: bench.SCOPES.get(n, 1) for n in bench.HEADLINE},
        "cold_start_sec": 9.9,
        "sf": 0.1,
        "loadavg": [0.5, 1.0],
    }


def _fake_scaling():
    # r14: main() always routes the per-leg multimodal map through the
    # SCALING channel (multimodal_legs_base), merged with the measured
    # scaling block when the replica dir exists.
    return {
        "multimodal_legs_base": _fake_legs(),
        "scale_factor_ratio": 10,
        "big_dir": SCALE_DIR,
        "queries": {
            name: {"t_base": 1.0, "t_big": 10.0, "exponent": 1.0,
                   "passes": 1, "t_passes": [10.0]}
            for name in bench.SCALING_SUBSET
        },
        "excluded": bench.SCALING_EXCLUDED,
    }


class _FakeWriter:
    def __init__(self, sleep_s):
        self._sleep = sleep_s

    def format(self, *_):
        return self

    def mode(self, *_):
        return self

    def save(self):
        import time

        time.sleep(self._sleep)


class _FakeDF:
    def __init__(self, sleep_s=0.002):
        self.write = _FakeWriter(sleep_s)


def test_measure_scaling_emits_per_pass_times(monkeypatch):
    """Every sidecar row must carry the full pass list (r11: the r10
    minhash exponent drift was three never-steady passes — only
    t_passes makes that diagnosable from the sidecar), with t_big ==
    min(t_passes) and passes == len(t_passes); flagged queries (t_big >
    2.5x base) get re-measured until CONVERGED (r13, VERDICT r12 #2:
    the fixed 2-extra-pass cap left minhash still falling at pass 3 —
    now passes repeat while the best improves >15%, capped at 5
    extra), so the flagged row gets a longer list and the loop stops
    once a pass stops improving."""
    if not os.path.isdir(SCALE_DIR):
        import pytest

        pytest.skip("no scaled replica dir")
    qs = {name: (lambda spark, d: _FakeDF()) for name in bench.SCALING_SUBSET}
    fast = bench.SCALING_SUBSET[0]
    # base so small the first big pass always flags -> re-measure path
    bases = {name: 1.0 for name in bench.SCALING_SUBSET}
    bases[fast] = 0.0001
    monkeypatch.setattr(bench.caching, "release_tracked", lambda: None)
    out = bench.measure_scaling(None, qs, bases, mm_legs_base=None)
    for name, row in out["queries"].items():
        assert row["t_big"] == min(row["t_passes"])
        assert row["passes"] == len(row["t_passes"])
        if name == fast:
            # flagged: at least one re-measure, bounded by the cap,
            # and the FINAL pass is the non-improving one (> 0.85x of
            # the best-so-far before it) unless the cap cut it off
            assert 2 <= row["passes"] <= 6, row
            if row["passes"] < 6:
                best_before = min(row["t_passes"][:-1])
                assert row["t_passes"][-1] > 0.85 * best_before, row
        else:
            assert row["passes"] == 1, (name, row)


def test_measure_scaling_converges_on_improving_passes(monkeypatch):
    """The r13 convergence loop keeps re-measuring while passes
    improve >15% (warm-up burn-off) and stops only after TWO
    CONSECUTIVE non-improving passes — one slow pass is the §17
    pass-ordering anomaly, not convergence, and the r12 minhash trace
    shows warm-up burning off non-monotonically (19.2 -> 18.7 -> 9.2:
    a one-strike stop would have quit before the halving). Pinned with
    a scripted timer: 10 -> 9.5 (strike 1) -> 5.0 (improves, strikes
    RESET) -> 4.9 (strike 1) -> 4.95 (strike 2, stop) — ends at pass
    5, below the 6-pass cap, so the stop is strike-driven."""
    if not os.path.isdir(SCALE_DIR):
        import pytest

        pytest.skip("no scaled replica dir")
    # perf_counter pairs: (start, end) per run -> durations 10, 9.5,
    # 5.0, 4.9, 4.95
    times = iter([0.0, 10.0, 20.0, 29.5, 40.0, 45.0, 60.0, 64.9, 80.0, 84.95])
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(times))
    monkeypatch.setattr(bench.caching, "release_tracked", lambda: None)
    name = bench.SCALING_SUBSET[0]
    monkeypatch.setattr(bench, "SCALING_SUBSET", [name])
    qs = {name: (lambda spark, d: _FakeDF())}
    out = bench.measure_scaling(None, qs, {name: 0.0001}, mm_legs_base=None)
    row = out["queries"][name]
    assert row["t_passes"] == [10.0, 9.5, 5.0, 4.9, 4.95], row
    assert row["t_big"] == 4.9 and row["passes"] == 5


def test_headline_is_last_line_and_parseable(tmp_path):
    lines = []
    bench.emit(_fake_out(), _fake_scaling(), sink=lines.append,
               sidecar=str(tmp_path / "scaling_bench.json"))
    assert len(lines) == 2
    last = json.loads(lines[-1])
    assert last["metric"] == "headline_queries_total"
    assert set(last) == {
        "metric", "value", "unit", "queries", "scopes", "cold_start_sec",
        "sf", "loadavg",
    }
    assert "scaling" not in last
    # r14: the per-leg map must NOT ride the headline line (it is what
    # grew the r12 line past the driver's tail capture) — it lives on
    # the SCALING channel, covering the suite's union exactly
    assert "multimodal_legs" not in last
    block = json.loads(lines[0][len("SCALING "):])
    assert set(block["multimodal_legs_base"]) == set(_fake_legs())


def test_scaling_line_is_prefixed_and_valid_json(tmp_path):
    lines = []
    bench.emit(_fake_out(), _fake_scaling(), sink=lines.append,
               sidecar=str(tmp_path / "scaling_bench.json"))
    assert lines[0].startswith("SCALING ")
    block = json.loads(lines[0][len("SCALING "):])
    assert block["scale_factor_ratio"] == 10
    assert set(block["queries"]) == set(bench.SCALING_SUBSET)


def test_headline_line_stays_under_tail_capture(tmp_path):
    lines = []
    bench.emit(_fake_out(), _fake_scaling(), sink=lines.append,
               sidecar=str(tmp_path / "scaling_bench.json"))
    # The r6 merged line was >8 KiB and fell off the driver's tail
    # capture; the r12 line (queries+scopes+26 multimodal legs) crept
    # back to ~3.8 KiB and was truncated again (BENCH_r12 parsed:null).
    # r14 budget: the slimmed headline (no per-leg map) measures ~2.4
    # KiB with the full 36-query roster — pin a 3 KiB ceiling so any
    # future field addition that would re-approach the capture limit
    # fails HERE instead of silently costing a round's perf signal.
    assert len(lines[-1]) < 3072


def test_no_scaling_emits_single_headline_line():
    lines = []
    bench.emit(_fake_out(), None, sink=lines.append)
    assert len(lines) == 1
    assert json.loads(lines[0])["metric"] == "headline_queries_total"


def test_sidecar_written(tmp_path):
    lines = []
    bench.emit(_fake_out(), _fake_scaling(), sink=lines.append,
               sidecar=str(tmp_path / "scaling_bench.json"))
    sidecar = tmp_path / "scaling_bench.json"
    assert sidecar.exists()
    assert json.loads(sidecar.read_text())["scale_factor_ratio"] == 10
