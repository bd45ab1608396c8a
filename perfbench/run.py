#!/usr/bin/env python3
"""KG-construction benchmark for glean_cetaf_rdfs_spark.

    python3 perfbench/run.py --workload kg_batch --seed 7 --seconds 12 --trace 0
    python3 -m pytest perfbench            # the benchmark's own self-tests

Run from the repository root. The benchmark drives only the package's
public functions on a seeded transcript table written to parquet:

* ``--trace 0``: closed loop, one operation at a time, from this process
  on ``local[<cores>]``. An operation is ``plans.pipeline.run_pipeline``
  with a lineage table. After two warm-up operations, operations repeat
  until they have taken ``--seconds``; every operation, the warm-up too,
  is checked exactly against ``oracle.oracle_triples`` on the same input.
  Prints the end-to-end metrics: ``setup_s`` (session start plus the
  warm-up operations' ``wall_s``), and as medians over the measured operations
  ``wall_s``, ``triples_per_s`` (oracle triples / wall), ``cpu_s``
  (user+sys of the JVM and its Python workers), ``peak_rss_mb`` (that
  process tree) and ``scratch_peak_mb`` (the Spark scratch directory).
  ``wall_s`` is the operation's wall time less the share of the VM's busy
  CPU time that the hypervisor stole for other guests meanwhile (``steal``
  in /proc/stat; 0 on bare metal). On a shared 4-vCPU VM that share was
  seen to swing from 0 to over 30% within minutes, stretching raw wall
  times by up to 1.7x; raw times and shares are in the detail line.
* ``--trace 1``: one warm-up operation; the resumable path
  (``run_resumable`` over 8 buckets, ``compact_buckets``, a no-op
  re-run); one untraced operation; then the pipeline recomposed layer by
  layer (``layers.traced_pipeline``). Spark's event log goes to scratch
  and is summarized per layer afterwards. Prints the per-layer metrics;
  the tracing overhead is the traced layers' total minus the untraced
  operation's wall time.

Workloads (``workload.WORKLOADS``): ``kg_batch`` is the generator's native
mix; ``kg_sparse_text`` keeps its conversations and turns but reduces 90%
of turn texts to the plain no-mention text, so per-turn rows, staging,
dedupe and writes dominate and linking has little to do.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it, prefixed ``detail``,
holds host facts, per-operation samples, error rate and wrong-triple
counts. Scratch lives in ``.perfbench_work/run`` and is removed before
and after every run; inputs and oracle answers are cached in
``.perfbench_work/inputs``, trace files go to ``.perfbench_work/traces``.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SCRATCH = WORK / "run"
MB = 1024 * 1024

WARMUP_OPS = 2
MIN_OPS = 2
N_BUCKETS = 8
OP_TIMEOUT_S = 90     # an operation running longer is cancelled and counted failed
RUN_DEADLINE_S = 170  # the whole run; past it the process tree is killed

sys.path.insert(0, str(ROOT))  # the package under test
import hostenv  # noqa: E402
import workload  # noqa: E402


def _clean_scratch() -> None:
    shutil.rmtree(SCRATCH, ignore_errors=True)


def _kill_tree(pids: list[int], timeout_s: float = 15.0) -> None:
    """SIGTERM then SIGKILL ``pids`` and wait until none is alive."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + timeout_s
        while time.time() < end:
            pids = [p for p in pids if hostenv.alive(p)]
            if not pids:
                return
            time.sleep(0.1)


class Session:
    """The Spark session, sized from the host, with its own scratch."""

    def __init__(self, eventlog_dir: Path | None):
        from glean_cetaf_rdfs_spark.session import get_spark

        cores = hostenv.cores()
        heap_mb = hostenv.heap_bytes(hostenv.mem_total_bytes(), cores) // MB
        local, tmp = SCRATCH / "spark-local", SCRATCH / "tmp"
        local.mkdir(parents=True)
        tmp.mkdir()
        # read by session._scratch_dir and by the JVM's launcher before start
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(local)
        os.environ["TMPDIR"] = str(tmp)
        # a fixed-size heap (-Xms = -Xmx): the process footprint then
        # follows the workload, not when G1 chose to grow the heap
        conf = {"spark.driver.memory": f"{heap_mb}m",
                "spark.driver.extraJavaOptions":
                    f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": str(SCRATCH / "warehouse")}
        if eventlog_dir is not None:
            eventlog_dir.mkdir()
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": eventlog_dir.as_uri(),
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.scratch = str(local)
        self.spark = get_spark("perfbench", master=f"local[{cores}]",
                               shuffle_partitions=cores, extra_conf=conf)
        self.jvm = self.spark.sparkContext._gateway.proc
        self.jvm_pid = self.jvm.pid

    def close(self) -> None:
        pids = hostenv.tree_pids(self.jvm_pid)
        try:
            self.spark.stop()
            self.spark.sparkContext._gateway.shutdown()
        finally:
            self.jvm.stdin.close()  # the gateway exits on stdin EOF
            try:
                self.jvm.wait(timeout=30)
            except Exception:  # noqa: BLE001 — fall through to the kill
                pass
            _kill_tree(pids)
            self.jvm.wait(timeout=5)


class Ops:
    """Runs and checks operations; counts attempts and failures."""

    def __init__(self, sess: Session, inp: workload.Input):
        self.sess, self.inp = sess, inp
        self.attempted = self.failed = 0
        self.wrong: list[int] = []
        self.seq = 0

    def _timed(self, fn):
        """(seconds, cpu seconds of the JVM tree, stolen share) of ``fn()``;
        the call is cancelled after OP_TIMEOUT_S. The stolen share is the
        part of the VM's non-idle CPU time that the hypervisor gave to
        other guests meanwhile (0 on bare metal)."""
        sc = self.sess.spark.sparkContext
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        cpu0 = hostenv.tree_cpu_s(self.sess.jvm_pid)
        ticks0 = hostenv.cpu_ticks()
        t0 = time.perf_counter()
        timer.start()
        try:
            fn()
        finally:
            timer.cancel()
        wall = time.perf_counter() - t0
        ticks1 = hostenv.cpu_ticks()
        total, idle, steal = (b - a for a, b in zip(ticks0, ticks1))
        return (wall, hostenv.tree_cpu_s(self.sess.jvm_pid) - cpu0,
                steal / max(1, total - idle))

    def check(self, out: str) -> int:
        """Exact check of a graph table against the oracle; returns the
        number of wrong triples and counts the operation failed if any."""
        wrong = workload.wrong_triples(workload.read_table(out), self.inp.oracle,
                                       self.inp.oracle_digest)
        self.wrong.append(wrong)
        if wrong:
            self.failed += 1
            print(f"perfbench: {out}: {wrong} wrong triples", file=sys.stderr)
        return wrong

    def pipeline(self, sampler: hostenv.PeakSampler | None = None) -> dict | None:
        """One ``run_pipeline`` operation, timed then checked; None if it
        crashed. A sampled operation starts after a full JVM GC, so that
        the previous operation's garbage and unreferenced shuffle files do
        not carry over into its peak memory and scratch figures."""
        from glean_cetaf_rdfs_spark.plans.pipeline import run_pipeline
        from glean_cetaf_rdfs_spark.sources.readers import read_transcripts

        spark = self.sess.spark
        self.seq += 1
        out, lineage = f"{SCRATCH}/out{self.seq}", f"{SCRATCH}/lineage{self.seq}"
        self.attempted += 1
        if sampler is not None:
            spark._jvm.java.lang.System.gc()
            sampler.reset()
        try:
            wall, cpu, stolen = self._timed(lambda: run_pipeline(
                spark, read_transcripts(spark, self.inp.transcripts), out,
                lineage_path=lineage))
            peaks = sampler.peaks() if sampler is not None else (0, 0)
            wrong = self.check(out)
        except Exception:  # noqa: BLE001 — a crashed operation is a counted failure
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(lineage, ignore_errors=True)
        # on a virtual machine the hypervisor may lend the CPUs to other
        # guests; the reported wall time leaves out that stolen share, and
        # the raw wall time is kept beside it
        unstolen = wall * (1 - stolen)
        triples = self.inp.oracle_digest[0]
        return {"wall_s": unstolen, "raw_wall_s": wall, "stolen_share": stolen,
                "cpu_s": cpu, "triples_per_s": triples / unstolen,
                "rss_mb": peaks[0] / MB, "scratch_mb": peaks[1] / MB, "wrong": wrong}


def _median_and_tail(values: list[float]) -> dict:
    """Median, sample count and the highest percentile that has at least
    ten samples beyond it (none below twenty samples)."""
    out: dict = {"median": statistics.median(values), "n": len(values)}
    if len(values) >= 20:
        p = int(100 * (1 - 10 / len(values)))
        out[f"p{p}"] = statistics.quantiles(values, n=100, method="inclusive")[p - 1]
    return out


def untraced(ops: Ops, sampler: hostenv.PeakSampler, seconds: float,
             session_s: float) -> tuple[dict, dict]:
    warm = [ops.pipeline() for _ in range(WARMUP_OPS)]
    setup_s = session_s + sum(s["wall_s"] for s in warm if s)
    samples: list[dict] = []
    while ops.attempted - WARMUP_OPS < MIN_OPS or sum(s["wall_s"] for s in samples) < seconds:
        sample = ops.pipeline(sampler)
        if sample is None:
            if ops.failed > 3:
                break
            continue
        samples.append(sample)
    if not samples:
        raise RuntimeError("no operation completed")
    keys = ("wall_s", "raw_wall_s", "cpu_s", "triples_per_s", "rss_mb", "scratch_mb")
    col = {k: [s[k] for s in samples] for k in keys}
    med = {k: statistics.median(v) for k, v in col.items()}
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (med["wall_s"], "s"),
        "triples_per_s": (med["triples_per_s"], "1/s"),
        "cpu_s": (med["cpu_s"], "s"),
        "peak_rss_mb": (med["rss_mb"], "MB"),
        "scratch_peak_mb": (med["scratch_mb"], "MB"),
    }
    detail = {"samples": samples, "warmup": warm, "session_s": session_s,
              **{k: _median_and_tail(v) for k, v in col.items()}}
    return metrics, detail


def traced(ops: Ops, sess: Session, eventlog_dir: Path) -> tuple[dict, dict]:
    import layers
    import eventlog
    from pyspark.sql import functions as F

    from glean_cetaf_rdfs_spark.sources.readers import read_transcripts
    from glean_cetaf_rdfs_spark.streaming.checkpoint import bucket_of

    # the resumable job's eight builds finish the JVM's warm-up, so the
    # untraced operation and the traced layers that follow both run warm
    ops.pipeline()
    spark, inp = sess.spark, ops.inp
    tr = layers.Tracer(spark, sess.jvm_pid)
    ops.attempted += 1
    counts = layers.traced_checkpoint(spark, tr, inp.transcripts,
                                      f"{SCRATCH}/ckpt_job", N_BUCKETS)
    base = ops.pipeline()
    out = f"{SCRATCH}/traced_out"
    ops.attempted += 1
    spark._jvm.java.lang.System.gc()
    counts.update(layers.traced_pipeline(spark, tr, inp.transcripts,
                                         f"{SCRATCH}/layers", out))
    oracle_wrong = ops.check(out)

    # the resumable job decides G2 Event retraction per bucket, so its
    # output is checked exactly against the oracle run bucket by bucket;
    # its distance from the one-shot oracle is reported, not hidden
    buckets = (read_transcripts(spark, inp.transcripts).select("conv_id").distinct()
               .select("conv_id", bucket_of(F.col("conv_id"), N_BUCKETS).alias("bucket"))
               .toPandas())
    compacted = workload.read_table(f"{SCRATCH}/ckpt_job/compacted")
    per_bucket = inp.per_bucket_oracle(buckets)
    ckpt_wrong = workload.wrong_triples(compacted, inp.oracle, inp.oracle_digest)
    if ckpt_wrong and workload.wrong_triples(
            compacted, per_bucket, workload.digest(per_bucket)):
        ops.failed += 1
        print("perfbench: compacted resumable output matches neither oracle",
              file=sys.stderr)
    extra = compacted.merge(inp.oracle, how="left", indicator=True)
    missing = inp.oracle.merge(compacted, how="left", indicator=True)
    ckpt_diff = {"extra": extra[extra["_merge"] == "left_only"]["pred"].value_counts().to_dict(),
                 "missing": missing[missing["_merge"] == "left_only"]["pred"].value_counts().to_dict()}

    sess.close()
    logs = list(eventlog_dir.iterdir())
    ev = eventlog.summarize(str(logs[0]))

    def ev_sum(name: str, key: str) -> float:
        return sum(v[key] for g, v in ev.items() if g == name or g.startswith(name + "."))

    def wall(name: str) -> float:
        s = tr.get(name)
        return s["end"] - s["start"]

    top = ["readers", "extract", "canonicalize", "stage", "link", "enrich", "materialize"]
    m = {f"{k}.self_s": tr.self_of(k, "wall")
         for k in ("readers", "extract", "canonicalize", "link", "enrich")}
    m.update({f"{k}.cpu_s": tr.self_of(k, "cpu_s") for k in ("extract", "canonicalize", "link")})
    # per-layer JVM GC has millisecond resolution and reads 0 for most
    # pipeline layers at this size: it goes to the trace file, and only
    # the checkpoint layer's and the total are metrics
    gc_by_layer = {k: tr.get(k)["gc_s"] for k in top + ["checkpoint"]}
    m.update({
        "stage.write_s": wall("stage.write"),
        "stage.read_s": wall("stage.read"),
        "link.events_self_s": tr.self_of("link.events", "wall"),
        "link.shuffle_write_mb": ev_sum("link", "shuffle_write_mb"),
        "materialize.dedupe_s": wall("materialize.dedupe"),
        "materialize.write_s": wall("materialize.write"),
        "materialize.cpu_s": tr.get("materialize")["cpu_s"],
        "materialize.shuffle_write_mb": ev_sum("materialize", "shuffle_write_mb"),
        "materialize.spill_mb": ev_sum("materialize", "spill_mb"),
        "checkpoint.compact_s": wall("checkpoint.compact"),
        "checkpoint.rerun_s": wall("checkpoint.rerun"),
        "checkpoint.wrong_triples": ckpt_wrong,
        "checkpoint.gc_s": gc_by_layer["checkpoint"],
        "jvm.gc_s": sum(gc_by_layer.values()),
        "oracle.wrong_triples": oracle_wrong,
    })
    m.update(counts)
    total = sum(wall(k) for k in top)
    # spans hold raw wall times, so the overhead compares raw with raw
    untraced_wall = base["raw_wall_s"] if base else float("nan")
    m.update({"trace.total_s": total, "trace.untraced_wall_s": untraced_wall,
              "trace.overhead_s": total - untraced_wall})
    metrics = {k: (v, _unit(k)) for k, v in m.items()}
    detail = {"spans": tr.spans, "eventlog": ev, "gc_s_by_layer": gc_by_layer,
              "checkpoint_vs_one_shot": ckpt_diff}
    return metrics, detail


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb", ".mb_out")):
        return "MB"
    if name.endswith(("_ratio", "_fraction", "_per_turn")):
        return "ratio"
    return "count"


def host_facts(args, inp: workload.Input, busy: float) -> dict:
    return {
        "nproc": hostenv.cores(),
        "mem_total_mb": hostenv.mem_total_bytes() // MB,
        "heap_mb": hostenv.heap_bytes(hostenv.mem_total_bytes(), hostenv.cores()) // MB,
        "busy_fraction_at_start": round(busy, 4),
        "git_sha": hostenv.git_sha(ROOT),
        "source_fingerprint": hostenv.source_fingerprint(ROOT / "glean_cetaf_rdfs_spark"),
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "convs": inp.meta["convs"], "turns": inp.meta["turns"],
        "conv_offset": inp.meta["conv_offset"], "oracle_triples": inp.oracle_digest[0],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workload.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import glean_cetaf_rdfs_spark  # noqa: F401 — fail fast when the package is absent

    t_start = time.perf_counter()
    busy = hostenv.busy_fraction()
    _clean_scratch()  # left over by a killed run
    atexit.register(_clean_scratch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    SCRATCH.mkdir(parents=True)
    os.chdir(SCRATCH)  # cwd outside the package root: workers must import it anyway

    fp = hostenv.source_fingerprint(ROOT / "glean_cetaf_rdfs_spark")
    inp = workload.Input(WORK / "inputs", args.workload, args.seed, fp)
    facts = host_facts(args, inp, busy)
    input_s = time.perf_counter() - t_start

    sess: Session | None = None

    def deadline() -> None:
        print(f"perfbench: run exceeded {RUN_DEADLINE_S}s, killing it", file=sys.stderr)
        if sess is not None:
            _kill_tree(hostenv.tree_pids(sess.jvm_pid), timeout_s=5)
        _clean_scratch()
        os._exit(124)

    watchdog = threading.Timer(RUN_DEADLINE_S, deadline)
    watchdog.daemon = True
    watchdog.start()
    eventlog_dir = SCRATCH / "eventlog" if args.trace else None
    t0 = time.perf_counter()
    sess = Session(eventlog_dir)
    session_s = time.perf_counter() - t0
    ops = Ops(sess, inp)
    try:
        if args.trace:
            metrics, detail = traced(ops, sess, eventlog_dir)
            trace_dir = WORK / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            (trace_dir / f"{args.workload}-s{args.seed}.json").write_text(
                json.dumps({"facts": facts, **detail}, indent=1, default=str))
            detail = {"trace_file": str(trace_dir / f"{args.workload}-s{args.seed}.json"),
                      "gc_s_by_layer": detail["gc_s_by_layer"],
                      "checkpoint_vs_one_shot": detail["checkpoint_vs_one_shot"]}
        else:
            with hostenv.PeakSampler(sess.jvm_pid, sess.scratch) as sampler:
                metrics, detail = untraced(ops, sampler, args.seconds, session_s)
    finally:
        if sess.jvm.poll() is None:
            sess.close()
        watchdog.cancel()
    detail.update(facts=facts, wrong_triples=ops.wrong,
                  error_rate=ops.failed / max(1, ops.attempted),
                  input_s=input_s, run_s=time.perf_counter() - t_start)
    print("detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
