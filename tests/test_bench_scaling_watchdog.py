"""Watchdog/retry contract of tools/bench_scaling.run_level — pure
subprocess-level tests (no Spark): a hung leg is killed by the
leg-sized budget and retried once; a clean leg passes through."""

from __future__ import annotations

import json
import subprocess

import pytest

from tools import bench_scaling as BS


def test_run_level_retries_once_then_raises(monkeypatch):
    calls = []

    def fake_run(cmd, **kw):
        calls.append(kw.get("timeout"))
        if cmd and cmd[0] == "pkill":
            return subprocess.CompletedProcess(cmd, 0)
        raise subprocess.TimeoutExpired(cmd, kw.get("timeout"))

    monkeypatch.setattr(BS.subprocess, "run", fake_run)
    monkeypatch.setattr(BS, "wait_for_calm", lambda *a, **k: 0.0)
    with pytest.raises(subprocess.TimeoutExpired):
        BS.run_level(2, 480_000, runs=2)
    # two leg attempts (same budget), each followed by a JVM cleanup
    leg_timeouts = [t for t in calls if t is not None]
    assert len(leg_timeouts) == 2
    # low leg at the default size: 600 + 3*2*900 = 6000 s budget
    assert leg_timeouts == [6000, 6000]


def test_run_level_budget_scales_with_input_and_cores(monkeypatch):
    seen = {}

    def fake_run(cmd, **kw):
        seen["timeout"] = kw["timeout"]
        out = json.dumps({"cores": 8, "n_turns": 1, "n_triples": 1,
                          "wall_sec": 1.0, "walls": [1.0],
                          "triples_per_sec": 1.0, "turns_per_sec": 1.0})
        return subprocess.CompletedProcess(cmd, 0, stdout=out, stderr="")

    monkeypatch.setattr(BS.subprocess, "run", fake_run)
    monkeypatch.setattr(BS, "wait_for_calm", lambda *a, **k: 0.0)
    res = BS.run_level(8, 120_000, runs=4)
    assert res["cores"] == 8 and res["host_busy_before"] == 0.0
    # high leg at quarter size: 600 + 3*4*(400*0.25) = 1800 s
    assert seen["timeout"] == 1800


def test_run_level_first_failure_then_success(monkeypatch):
    state = {"n": 0}

    def fake_run(cmd, **kw):
        if cmd and cmd[0] == "pkill":
            state["pkilled"] = True
            return subprocess.CompletedProcess(cmd, 0)
        state["n"] += 1
        if state["n"] == 1:
            raise subprocess.TimeoutExpired(cmd, kw.get("timeout"))
        out = json.dumps({"cores": 2, "n_turns": 5, "n_triples": 7,
                          "wall_sec": 2.0, "walls": [2.0, 2.1],
                          "triples_per_sec": 3.5, "turns_per_sec": 2.5})
        return subprocess.CompletedProcess(cmd, 0, stdout=out, stderr="")

    monkeypatch.setattr(BS.subprocess, "run", fake_run)
    monkeypatch.setattr(BS, "wait_for_calm", lambda *a, **k: 0.0)
    res = BS.run_level(2, 480_000, runs=2)
    assert res["n_triples"] == 7
    assert state["pkilled"]  # the hung JVM was cleaned before the retry


def test_run_level_budget_capped_by_deadline(monkeypatch):
    """Round-6 wall-cap fix: a caller deadline bounds the leg watchdog so
    a hung leg cannot out-live the bench's total budget (BENCH_r05 rc
    124); without a deadline the sized budget is unchanged."""
    import time

    seen = []

    def fake_run(cmd, **kw):
        if cmd and cmd[0] == "pkill":
            return subprocess.CompletedProcess(cmd, 0)
        seen.append(kw["timeout"])
        out = json.dumps({"cores": 2, "n_turns": 1, "n_triples": 1,
                          "wall_sec": 1.0, "walls": [1.0, 1.0],
                          "triples_per_sec": 1.0, "turns_per_sec": 1.0})
        return subprocess.CompletedProcess(cmd, 0, stdout=out, stderr="")

    monkeypatch.setattr(BS.subprocess, "run", fake_run)
    monkeypatch.setattr(BS, "wait_for_calm", lambda *a, **k: 0.0)
    BS.run_level(2, 480_000, runs=2, deadline=time.monotonic() + 1000)
    # an exhausted budget REFUSES to start an attempt (the former 300 s
    # floor ran attempts past the deadline — observed +600 s overrun)
    with pytest.raises(subprocess.TimeoutExpired):
        BS.run_level(2, 480_000, runs=2, deadline=time.monotonic() - 10)
    BS.run_level(2, 480_000, runs=2)
    assert 990 <= seen[0] <= 1000      # capped to remaining time
    assert seen[1] == 6000             # no deadline → sized budget
    assert len(seen) == 2              # exhausted-budget attempt never ran


def test_effective_convs_cap(monkeypatch):
    assert BS.effective_convs(480_000) == BS.SCALING_CONVS_CAP
    assert BS.effective_convs(100_000) == 100_000


def test_wait_for_calm_respects_total_budget(monkeypatch):
    """The calm gate's TOTAL wall across calls is bounded: with the
    budget exhausted it samples once and returns instead of blocking."""
    import time

    monkeypatch.setattr(BS, "host_busy_fraction", lambda *a, **k: 0.99)
    monkeypatch.setattr(BS, "_CALM_BUDGET", [0.0])
    t0 = time.monotonic()
    busy = BS.wait_for_calm(max_wait_s=600.0)
    assert time.monotonic() - t0 < 5
    assert busy == 0.99


def test_timed_action_cancels_wedged_query(spark):
    """The job-group watchdog must interrupt a stuck Python stage (the
    worker-death hang surrogate: a worker sleeping far past the budget)
    and leave the session healthy for the next query."""
    import time as _time

    import bench as B

    def slow(batches):
        for pdf in batches:
            _time.sleep(30)
            yield pdf

    df = (spark.range(4).selectExpr("id", "id * 2 AS x")
          .mapInPandas(slow, "id long, x long"))
    t0 = _time.monotonic()
    with pytest.raises(Exception):
        B.timed_collect(spark, df, 3.0, "wedged")
    assert _time.monotonic() - t0 < 25  # cancelled, not slept out
    # session still usable afterwards
    assert spark.range(5).count() == 5


def test_timed_action_passthrough(spark):
    import bench as B

    out = B.timed_collect(spark, spark.range(3), 60.0, "ok")
    assert len(out) == 3


def test_main_soft_fails_with_partial_evidence(monkeypatch, capsys):
    """Round-6: a died/overrun leg yields a parseable result line with
    pass=false and the error recorded — never a nonzero exit that erases
    the completed leg's evidence (the first in-bench validation lost its
    whole scaling block to one starved leg)."""
    import sys

    lo = {"cores": 2, "n_turns": 1, "n_triples": 10, "wall_sec": 1.0,
          "walls": [1.0, 1.0], "triples_per_sec": 10.0,
          "turns_per_sec": 1.0}

    def fake_measure(cores, n_convs, runs, deadline, **kw):
        if cores == 2:
            return dict(lo)
        raise subprocess.TimeoutExpired(["leg"], 42)

    monkeypatch.setattr(BS, "measure_leg", fake_measure)
    monkeypatch.setattr(BS.subprocess, "run",
                        lambda *a, **k: subprocess.CompletedProcess(a, 0))
    monkeypatch.setattr(sys, "argv", ["bench_scaling.py", "480000", "2", "2", "4"])
    BS.main()
    out = capsys.readouterr().out.strip().splitlines()[-1]
    res = json.loads(out)
    assert res["pass"] is False and res["scaling_efficiency"] is None
    assert res["low"]["triples_per_sec"] == 10.0
    assert res["high"] == {"cores": 8, "wall_sec": None,
                           "triples_per_sec": None, "walls": []}
    assert "TimeoutExpired" in res["error"]
    assert res["n_convs"] == BS.SCALING_CONVS_CAP


def test_main_one_leg_death_keeps_other_leg(monkeypatch, capsys):
    """Round-6 second pass: legs soft-fail INDEPENDENTLY — the high leg
    dying must not skip the low leg (the old single try block lost
    whichever leg came after the failure), and the high leg is measured
    FIRST under a bounded sub-deadline so a re-batching low leg can no
    longer starve it."""
    import sys
    import time

    order = []
    lo = {"cores": 2, "n_turns": 1, "n_triples": 10, "wall_sec": 1.0,
          "walls": [1.0, 1.0], "triples_per_sec": 10.0,
          "turns_per_sec": 1.0}

    def fake_measure(cores, n_convs, runs, deadline, **kw):
        order.append(cores)
        if cores == 2:
            return dict(lo)
        # the hi sub-deadline is bounded to 40% of the budget
        assert deadline <= time.monotonic() + 0.4 * BS.SCALING_BUDGET_S + 5
        raise subprocess.TimeoutExpired(["leg"], 42)

    monkeypatch.setattr(BS, "measure_leg", fake_measure)
    monkeypatch.setattr(BS.subprocess, "run",
                        lambda *a, **k: subprocess.CompletedProcess(a, 0))
    monkeypatch.setattr(sys, "argv", ["bench_scaling.py", "480000", "2", "2", "4"])
    BS.main()
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert order == [8, 2]  # hi first, lo still measured after hi died
    assert res["pass"] is False and res["scaling_efficiency"] is None
    assert res["low"]["triples_per_sec"] == 10.0
    assert res["high"]["wall_sec"] is None
    assert "hi TimeoutExpired" in res["error"]


def test_measure_leg_rebatch_gate_respects_run_level_floor(monkeypatch):
    """The re-batch gate needs max(300, 2.5 × min wall) of budget: with
    250 s of re-batch cost but under 300 s left, run_level would refuse
    the attempt, so measure_leg must not start it."""
    import time

    calls = []

    def fake_level(cores, n_convs, runs, deadline=None):
        calls.append(runs)
        return {"cores": cores, "n_triples": 10, "n_turns": 1,
                "wall_sec": 100.0, "walls": [100.0, 200.0],
                "triples_per_sec": 0.1, "turns_per_sec": 0.01}

    monkeypatch.setattr(BS, "run_level", fake_level)
    m = BS.measure_leg(2, 1000, 2, deadline=time.monotonic() + 280)
    assert len(calls) == 1
    assert m["walls"] == [100.0, 200.0]


def test_measure_leg_rebatch_failure_keeps_walls(monkeypatch):
    """A re-batch that raises (near-deadline refusal, hung leg) returns
    the walls already measured instead of discarding the leg."""
    import time

    calls = []

    def fake_level(cores, n_convs, runs, deadline=None):
        calls.append(runs)
        if len(calls) > 1:
            raise subprocess.TimeoutExpired(["leg"], 42)
        return {"cores": cores, "n_triples": 10, "n_turns": 1,
                "wall_sec": 1.0, "walls": [1.0, 2.0],
                "triples_per_sec": 10.0, "turns_per_sec": 1.0}

    monkeypatch.setattr(BS, "run_level", fake_level)
    m = BS.measure_leg(2, 1000, 2, deadline=time.monotonic() + 10_000)
    assert len(calls) == 2
    assert m["walls"] == [1.0, 2.0] and m["wall_sec"] == 1.0
    assert "TimeoutExpired" in m["rebatch_error"]


def test_main_remeasure_failure_keeps_both_legs(monkeypatch, capsys):
    """An under-target pair triggers the interleaved re-measure; when
    that raises, the final line still carries both measured legs and
    the error instead of main() crashing with nothing printed."""
    import sys

    calls = []
    legs = {2: {"cores": 2, "n_turns": 1, "n_triples": 10, "wall_sec": 1.0,
                "walls": [1.0, 1.0], "triples_per_sec": 10.0,
                "turns_per_sec": 1.0},
            8: {"cores": 8, "n_turns": 1, "n_triples": 10, "wall_sec": 0.5,
                "walls": [0.5, 0.5], "triples_per_sec": 20.0,
                "turns_per_sec": 2.0}}

    def fake_measure(cores, n_convs, runs, deadline, **kw):
        calls.append(cores)
        if len(calls) > 2:
            raise subprocess.TimeoutExpired(["leg"], 42)
        return dict(legs[cores])

    monkeypatch.setattr(BS, "measure_leg", fake_measure)
    monkeypatch.setattr(BS.subprocess, "run",
                        lambda *a, **k: subprocess.CompletedProcess(a, 0))
    monkeypatch.setattr(sys, "argv", ["bench_scaling.py", "480000", "2", "2", "4"])
    BS.main()
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert calls == [8, 2, 2]  # hi, lo, then the failed lo re-measure
    assert res["low"]["walls"] == [1.0, 1.0]
    assert res["high"]["walls"] == [0.5, 0.5]
    assert res["scaling_efficiency"] == 0.5 and res["pass"] is False
    assert "re-measure TimeoutExpired" in res["error"]
