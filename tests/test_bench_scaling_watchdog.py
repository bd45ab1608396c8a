"""The scaling harness (tools/bench_scaling.py) and bench.py's query
watchdog. The leg tests start real ``--leg`` subprocesses, each with its
own JVM, on a 30-conversation input."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

from tools import bench_scaling as BS

REPO = Path(__file__).resolve().parents[1]
N_CONVS = 30


@pytest.fixture(scope="module")
def leg_input(spark):
    return BS.write_input(spark, N_CONVS)


def _group_exes(pgid: int) -> list[str]:
    """Executables of the live (not zombie) processes in group ``pgid``."""
    exes = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat") as f:
                state, _, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
            if int(pgrp) == pgid and state != "Z":
                exes.append(os.readlink(f"/proc/{name}/exe"))
        except (OSError, ValueError):
            pass  # not a pid, or exited while we read
    return exes


def test_legs_read_the_same_input(leg_input, monkeypatch):
    """Both legs, each a real ``--leg`` subprocess, count the same turns
    and triples: the pair times one job on one input."""
    monkeypatch.setattr(BS, "wait_for_calm", lambda *a, **k: 0.0)
    res = BS.pair(leg_input, N_CONVS, deadline=time.monotonic() + 900)
    lo, hi = res["low"], res["high"]
    assert res["error"] is None, res
    assert hi["cores"] == 4 * lo["cores"]
    # each leg ran pinned to as many CPUs as its local[N] has cores
    assert lo["cpus"] == lo["cores"] and hi["cpus"] == hi["cores"]
    assert lo["n_turns"] == hi["n_turns"] > 0
    assert lo["n_triples"] == hi["n_triples"] > 0
    assert len(lo["walls"]) == len(hi["walls"]) == BS.RUNS
    assert res["scaling_efficiency"] > 0


def _leg_scratch(pid: int) -> str:
    """``SPARK_GRAFT_LOCAL_DIR`` in the environment of process ``pid``."""
    with open(f"/proc/{pid}/environ", "rb") as f:
        env = dict(kv.split(b"=", 1) for kv in f.read().split(b"\0") if b"=" in kv)
    return env[b"SPARK_GRAFT_LOCAL_DIR"].decode()


def test_leg_timeout_kills_its_jvm(leg_input, monkeypatch):
    """A leg past its timeout is killed with its whole process group, the
    JVM included (a JVM parked on a dead Python worker's socket never
    exits by itself), and the leg returns the error with no walls. The
    leg's own Spark scratch directory, which its killed exit cleanup
    never removes, is gone too."""
    seen = {}
    killpg = os.killpg

    def spy(pgid, sig):
        seen["pgid"], seen["before"] = pgid, _group_exes(pgid)
        seen["scratch"] = _leg_scratch(pgid)
        seen["scratch_existed"] = os.path.isdir(seen["scratch"])
        killpg(pgid, sig)

    monkeypatch.setattr(BS.os, "killpg", spy)
    res = BS.run_leg(1, N_CONVS, 10_000, leg_input, timeout_s=30)
    assert res["walls"] == [] and res["triples_per_sec"] is None
    assert res["error"] == "timeout after 30 s"
    assert any(exe.endswith("/java") for exe in seen["before"]), seen
    for _ in range(50):  # SIGKILL is asynchronous
        if not _group_exes(seen["pgid"]):
            break
        time.sleep(0.1)
    assert _group_exes(seen["pgid"]) == []
    assert seen["scratch_existed"], seen
    assert os.environ.get("SPARK_GRAFT_LOCAL_DIR") != seen["scratch"]
    assert not os.path.exists(seen["scratch"])


def _leg_dies(dead, order):
    """A fake ``run_leg`` under which the leg with ``dead`` cores times
    out and the other completes; ``order`` records the cores run."""
    def fake(cores, n_convs, runs, src, timeout_s):
        order.append(cores)
        if cores == dead:
            return {"cores": cores, "n_convs": n_convs, "wall_sec": None,
                    "walls": [], "triples_per_sec": None,
                    "error": "timeout after 9 s"}
        return {"cores": cores, "n_convs": n_convs, "n_turns": 5,
                "n_triples": 20, "wall_sec": 2.0,
                "walls": [2.0, 1.9, 2.2], "triples_per_sec": 10.0}
    return fake


def test_main_one_leg_death_keeps_other_leg(monkeypatch):
    """The legs of ``pair`` (the harness entry bench.py calls) fail
    independently: the 4N leg runs first, and whichever leg dies, the
    other is still run and keeps its walls."""
    monkeypatch.setattr(BS, "wait_for_calm", lambda *a, **k: 0.0)
    low = max(1, len(os.sched_getaffinity(0)) // 4)
    for dead in (low, 4 * low):
        order = []
        monkeypatch.setattr(BS, "run_leg", _leg_dies(dead, order))
        res = BS.pair("unused", 7, deadline=time.monotonic() + 100)
        assert order == [4 * low, low]
        legs = {res["low"]["cores"]: res["low"], res["high"]["cores"]: res["high"]}
        (alive,) = (v for k, v in legs.items() if k != dead)
        assert alive["walls"] == [2.0, 1.9, 2.2]
        assert alive["triples_per_sec"] == 10.0
        assert legs[dead]["walls"] == []


def test_main_soft_fails_with_partial_evidence(monkeypatch):
    """A dead leg gives a result that still serialises to one JSON line,
    with pass=false, no efficiency and the error named by leg, never an
    exception that erases the completed leg's evidence."""
    monkeypatch.setattr(BS, "wait_for_calm", lambda *a, **k: 0.0)
    low = max(1, len(os.sched_getaffinity(0)) // 4)
    monkeypatch.setattr(BS, "run_leg", _leg_dies(4 * low, []))
    res = json.loads(json.dumps(BS.pair("unused", 7,
                                        deadline=time.monotonic() + 100)))
    assert res["pass"] is False and res["scaling_efficiency"] is None
    assert res["error"] == "high: timeout after 9 s"
    assert res["high"]["wall_sec"] is None and res["high"]["walls"] == []
    assert res["low"]["triples_per_sec"] == 10.0
    assert res["low"]["n_triples"] == 20 and res["n_convs"] == 7


def test_pair_timeouts_split_time_left(monkeypatch):
    """The 4N leg runs first and may use half the time left to the
    deadline; the N leg gets all that remains after it."""
    monkeypatch.setattr(BS, "wait_for_calm", lambda *a, **k: 0.0)
    timeouts = []

    def fake(cores, n_convs, runs, src, timeout_s):
        timeouts.append((cores, timeout_s))
        return {"cores": cores, "n_convs": n_convs, "n_turns": 1,
                "n_triples": 4, "wall_sec": 1.0, "walls": [1.0],
                "triples_per_sec": 4.0}

    monkeypatch.setattr(BS, "run_leg", fake)
    res = BS.pair("unused", 7, deadline=time.monotonic() + 1000)
    (hi, t_hi), (lo, t_lo) = timeouts
    assert hi == 4 * lo
    assert 495 <= t_hi <= 500 and 990 <= t_lo <= 1000
    assert res["scaling_efficiency"] == 0.25


def test_pair_convs_fits_time_left():
    """Input plus RUNS runs of both legs at the measured per-conversation
    cost fit a third of the time left; more time or a cheaper pipeline
    gives a larger input, and the input never drops below 1000 convs."""
    for sec_per_conv, left in ((0.003, 3400.0), (0.01, 3000.0), (0.05, 8000.0)):
        n = BS.pair_convs(sec_per_conv, left)
        worst = n * sec_per_conv * (1 + 5 * BS.RUNS) + 2 * BS.LEG_STARTUP_S
        assert worst <= left / 3 + 1e-6
        assert BS.pair_convs(sec_per_conv, 2 * left) > n
        assert BS.pair_convs(sec_per_conv / 2, left) > n
    assert BS.pair_convs(1.0, 10.0) == 1000


def test_wait_for_calm_gives_up_after_max_wait(monkeypatch):
    """On a host that never calms down the gate returns the busy fraction
    once ``max_wait_s`` has passed instead of blocking the bench."""
    monkeypatch.setattr(BS, "host_busy_fraction", lambda *a, **k: 0.99)
    monkeypatch.setattr(BS.time, "sleep", lambda s: None)
    t0 = time.monotonic()
    assert BS.wait_for_calm(max_wait_s=0.5) == 0.99
    assert time.monotonic() - t0 < 5


# a fixed script: writes the leg input from a fresh
# process and exits, the way bench.py does when it finishes
_WRITE_INPUT_AND_EXIT = """
import os
from glean_cetaf_rdfs_spark.session import get_spark
from tools.bench_scaling import write_input

path = write_input(get_spark("input_exit", master="local[1]"), 5)
print(os.path.exists(path + "/_SUCCESS"), path)
"""


def test_leg_input_removed_at_exit():
    """The scaling input lives under an app-scoped scratch path that is
    removed when the writing process exits: /dev/shm is RAM, and inputs
    left behind there outlive every run."""
    out = subprocess.run([sys.executable, "-c", _WRITE_INPUT_AND_EXIT],
                         cwd=REPO, capture_output=True, text=True,
                         timeout=600, check=True)
    written, path = out.stdout.strip().splitlines()[-1].split(" ", 1)
    assert written == "True"
    assert not os.path.exists(path)


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
