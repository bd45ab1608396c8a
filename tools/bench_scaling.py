"""Two-parallelism-level scaling evidence (the north rule's two-cluster-size
criterion, sandbox protocol per BASELINE.md): the identical KG job on
identical input at local[N] and local[4N], triples/sec at both, and the
scaling efficiency (throughput_4N / throughput_N) / 4.

    python -m tools.bench_scaling --leg CORES N_CONVS RUNS INPUT

runs one leg in this fresh JVM and prints one JSON line: a session at
local[CORES] reads the transcript parquet at INPUT, warms up on a slice,
then times ``build_triples(...).count()`` RUNS times and reports every
wall and their median. ``bench.py`` writes INPUT once with
``write_input`` (the same ``transcripts_df`` its KG leg uses) and runs
both legs through ``pair``.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

RUNS = 3              # timed runs per leg; the leg reports their median
TARGET = 0.8          # BASELINE.md's efficiency bar: reported, not enforced
LEG_STARTUP_S = 60.0  # JVM start, input count and warm-up, per leg


def host_busy_fraction(settle_s: float = 3.0) -> float:
    """Fraction of host CPU time spent non-idle over a short window
    (/proc/stat deltas). With no leg running, a calm host reads ~0."""

    def snap() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), vals[3] + vals[4]  # idle + iowait

    t0, i0 = snap()
    time.sleep(settle_s)
    t1, i1 = snap()
    return 1.0 - (i1 - i0) / max(t1 - t0, 1)


def wait_for_calm(max_wait_s: float = 600.0, busy_thresh: float = 0.20) -> float:
    """Block until the host looks idle (nothing of ours runs between
    legs, so sustained busy = noisy neighbor — the condition that
    inflated every high-leg wall in the round-4 driver artifact). Gives
    up after ``max_wait_s`` and lets the caller run anyway; returns the
    last observed busy fraction so the artifact records the conditions."""
    deadline = time.monotonic() + max_wait_s
    busy = host_busy_fraction()
    while busy > busy_thresh and time.monotonic() < deadline:
        time.sleep(10)
        busy = host_busy_fraction()
    return round(busy, 3)


def write_input(spark, n_convs: int) -> str:
    """Write ``transcripts_df(n_convs)`` once for both legs, at an
    app-scoped scratch path that is removed when this process exits
    (scratch is RAM-backed /dev/shm where available)."""
    from glean_cetaf_rdfs_spark.data.synthetic import transcripts_df
    from glean_cetaf_rdfs_spark.session import app_scratch_path

    path = app_scratch_path(spark, "scaling_input")
    transcripts_df(spark, n_convs).write.mode("overwrite").parquet(path)
    return path


def pair_convs(sec_per_conv: float, time_left_s: float) -> int:
    """Leg size that makes the pair take about a third of ``time_left_s``.
    ``sec_per_conv`` is the KG pipeline's measured wall per conversation
    at 4N cores; the N leg costs at most 4× the 4N leg, so writing the
    input plus RUNS runs of both legs costs at most
    ``(1 + 5 * RUNS) * sec_per_conv`` per conversation."""
    budget = time_left_s / 3 - 2 * LEG_STARTUP_S
    return max(1000, int(budget / (sec_per_conv * (1 + 5 * RUNS))))


def leg(cores: int, n_convs: int, runs: int, src: str) -> dict:
    """One leg in this process: the KG job on the input at ``src``.

    Before the JVM starts, this process is pinned to the first ``cores``
    CPUs it may run on; the JVM and its Python workers inherit the pin,
    so ``local[1]`` uses one CPU. Unpinned, its GC and JIT threads and
    its Arrow-fed Python worker kept 1.1-3.4 of 4 CPUs busy. Shuffle
    partitions and heap come from the unpinned host, so both legs plan
    the same job on the same heap."""
    from glean_cetaf_rdfs_spark.plans.pipeline import build_triples
    from glean_cetaf_rdfs_spark.session import get_spark, host_facts

    host = host_facts()
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:cores])
    spark = get_spark(f"scaling_leg_{cores}", master=f"local[{cores}]",
                      shuffle_partitions=host["nproc"],
                      extra_conf={"spark.driver.memory": f"{host['heap_mb']}m"})
    inp = spark.read.parquet(src)
    n_turns = inp.count()
    # a small full pipeline run (dedupe exchange included) so JIT,
    # codegen and Python-worker forks are not in the timed runs
    build_triples(inp.limit(20000)).count()
    walls = []
    for _ in range(runs):
        t0 = time.perf_counter()
        n_triples = build_triples(inp).count()
        walls.append(time.perf_counter() - t0)
    wall = statistics.median(walls)
    return {"cores": cores, "cpus": len(os.sched_getaffinity(0)),
            "n_convs": n_convs, "n_turns": n_turns,
            "n_triples": n_triples, "wall_sec": round(wall, 2),
            "walls": [round(w, 2) for w in walls],
            "triples_per_sec": round(n_triples / wall, 1)}


def run_leg(cores: int, n_convs: int, runs: int, src: str,
            timeout_s: float) -> dict:
    """``leg`` in a fresh JVM (one SparkSession per JVM), in its own
    process group. Past ``timeout_s`` the whole group is killed: the
    leg's Python, its JVM and the JVM's Python workers. A Python worker
    that dies mid-stream leaves the JVM parked on the worker socket
    forever (BENCH.md), and killing the leg's Python alone would leave
    that JVM holding its heap. Never raises: a failed leg returns its
    error next to empty walls, so it cannot erase the other leg.

    The leg's scratch is a directory of its own, removed once the group
    has exited or been killed: a killed leg never runs its own exit
    cleanup, so its stage tables (``SPARK_GRAFT_LOCAL_DIR``) and its
    JVM's block-manager files (``SPARK_LOCAL_DIRS``, which overrides
    ``spark.local.dir``) would otherwise stay behind. Both variables
    are set in the leg's env only."""
    from glean_cetaf_rdfs_spark.session import _scratch_dir

    scratch = tempfile.mkdtemp(prefix=f"scaling_leg{cores}_",
                               dir=_scratch_dir())
    argv = [sys.executable, "-m", "tools.bench_scaling", "--leg",
            str(cores), str(n_convs), str(runs), src]
    proc = subprocess.Popen(argv, cwd=REPO, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True,
                            env={**os.environ, "SPARK_GRAFT_LOCAL_DIR": scratch,
                                 "SPARK_LOCAL_DIRS": scratch})
    try:
        out, err = proc.communicate(timeout=max(timeout_s, 1.0))
        if proc.returncode == 0:
            return json.loads(out.strip().splitlines()[-1])
        error = f"exit {proc.returncode}: {err.strip()[-300:]}"
    except subprocess.TimeoutExpired:
        error = f"timeout after {round(timeout_s)} s"
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass  # the group has already exited
        proc.communicate()
        shutil.rmtree(scratch, ignore_errors=True)
    return {"cores": cores, "n_convs": n_convs, "wall_sec": None,
            "walls": [], "triples_per_sec": None, "error": error}


def pair(src: str, n_convs: int, deadline: float) -> dict:
    """Both legs on the input at ``src``: local[N] and local[4N], N a
    quarter of this host's cores (local[1] and local[4] on 4 cores). The
    4N leg runs first and may use half the time left to ``deadline``;
    the N leg, ~4× as long, gets the rest. Each leg waits for a calm
    host first."""
    low = max(1, len(os.sched_getaffinity(0)) // 4)
    legs = {}
    for name, cores, share in (("high", 4 * low, 0.5), ("low", low, 1.0)):
        busy = wait_for_calm(max_wait_s=60.0)
        timeout = share * (deadline - time.monotonic())
        legs[name] = dict(run_leg(cores, n_convs, RUNS, src, timeout),
                          host_busy_before=busy)
        print(json.dumps({"detail": "leg_done", "leg": legs[name]}),
              file=sys.stderr, flush=True)
    lo, hi = legs["low"], legs["high"]
    eff = None
    if lo["triples_per_sec"] and hi["triples_per_sec"]:
        eff = round(hi["triples_per_sec"] / lo["triples_per_sec"] / 4, 3)
    errors = [f"{k}: {v['error']}" for k, v in legs.items() if "error" in v]
    return {"n_convs": n_convs, "low": lo, "high": hi,
            "scaling_efficiency": eff, "target": TARGET,
            "pass": eff is not None and eff >= TARGET,
            "error": "; ".join(errors) or None,
            "policy": f"calm-host gate before each leg; median of {RUNS} "
                      "runs per leg; every wall recorded"}


if __name__ == "__main__":
    if sys.argv[1:2] != ["--leg"] or len(sys.argv) != 6:
        sys.exit(__doc__)
    cores, n_convs, runs = (int(a) for a in sys.argv[2:5])
    print(json.dumps(leg(cores, n_convs, runs, sys.argv[5])), flush=True)
