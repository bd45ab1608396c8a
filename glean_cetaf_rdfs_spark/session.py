"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what a cluster deployment would set per-executor:
AQE on (skew-join; partition coalescing off, see get_spark), Arrow on
(all UDFs are pandas/Arrow-vectorized), shuffle partitions sized to
cores rather than the 200 default, UTC session TZ so DuckDB oracle
comparisons are stable (and the extraction stage's ``created`` literals
are UTC).

PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off. With it on,
every ``F.*`` and DataFrame call pays extra py4j round trips to record
its Python stack: a ``run_pipeline`` over 10k turns made ~6,600 py4j
calls with it on and ~2,950 off, and turning it off alone cut the run's
wall time by ~7% (2.05 → 1.91 s, 4-core host). The trade-off: a Spark
error no longer names the Python line of the failing ``F.*`` call; the
error message and the JVM stack trace are unchanged.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import sys
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# repo root (parent of this package) — shipped to Python workers so the
# extraction UDFs can unpickle package functions regardless of the
# driver's cwd; on a real cluster this is `spark-submit --py-files
# glean_cetaf_rdfs_spark.zip` (see package_zip()).
_PKG_ROOT = str(Path(__file__).resolve().parents[1])


def package_zip(target_dir: str = "/tmp") -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``."""
    base = os.path.join(target_dir, "glean_cetaf_rdfs_spark")
    return shutil.make_archive(base, "zip", root_dir=_PKG_ROOT,
                               base_dir="glean_cetaf_rdfs_spark")


def _scratch_dir() -> str:
    custom = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if custom:
        return custom
    if os.path.isdir("/dev/shm"):
        path = "/dev/shm/spark-local"
        os.makedirs(path, exist_ok=True)
        return path
    import tempfile

    return tempfile.gettempdir()


_APP_SCRATCH_REGISTERED: set[str] = set()
_BUILD_SEQ = itertools.count(1)
_PRIOR_BUILDS: dict[str, list[str]] = {}


def app_scratch_path(spark: SparkSession, name: str) -> str:
    """App-scoped scratch path ``<scratch>/<name>_<applicationId>`` —
    bounded to one copy per SparkSession (overwritten on rebuild) and
    removed at interpreter exit. /dev/shm is RAM; uuid-per-run paths leak
    it across repeated bench/test runs."""
    path = f"{_scratch_dir()}/{name}_{spark.sparkContext.applicationId}"
    if path not in _APP_SCRATCH_REGISTERED:
        _APP_SCRATCH_REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def stage_scratch_path(spark: SparkSession, name: str) -> str:
    """A fresh per-build directory ``<app_scratch_path>/b<seq>`` for a
    plan's stage tables (``kg_canon``, ``curation``).

    A new build never overwrites the files an earlier build's
    still-unconsumed DataFrame lazily reads. Only the current and the
    immediately previous build directory are kept per base: starting a
    third build deletes the oldest, so a DataFrame from two or more
    builds back raises FileNotFoundException at action time. Scratch is
    RAM-backed (/dev/shm) where available, and an N-run bench would
    otherwise hold N stage copies."""
    base = app_scratch_path(spark, name)
    prior = _PRIOR_BUILDS.setdefault(base, [])
    for old in prior[:-1]:
        shutil.rmtree(old, ignore_errors=True)
    del prior[:-1]
    path = f"{base}/b{next(_BUILD_SEQ)}"
    prior.append(path)
    return path


GIB = 1024 ** 3


def heap_bytes(mem_total: int, n_cores: int) -> int:
    """Default JVM heap from MemTotal: leave 2 GiB for the OS, 2 GiB for
    scratch held in the page cache (or tmpfs) and 512 MiB per Python
    worker, and give the JVM a third of what remains (the host may be
    shared), within [1, 6] GiB."""
    spare = mem_total - 4 * GIB - n_cores * GIB // 2
    return int(min(6 * GIB, max(1 * GIB, spare // 3)))


def host_facts() -> dict[str, int]:
    """This host's core count, MemTotal and default driver heap (MB)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem = next(int(line.split()[1]) * 1024 for line in f
                   if line.startswith("MemTotal:"))
    return {"nproc": cores, "mem_total_mb": mem // 2**20,
            "heap_mb": heap_bytes(mem, cores) // 2**20}


def get_spark(
    app_name: str = "glean_cetaf_rdfs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession sized from the host.

    ``master`` defaults to ``local[N]`` with N = ``$SPARK_GRAFT_CPUS``,
    else the cores this process may run on (``sched_getaffinity``).
    ``shuffle_partitions`` defaults to the host's core count whatever
    ``master`` is, so sessions at different ``local[N]`` plan the same
    job — on a real cluster this would be ~2-3× total executor cores.
    The driver heap defaults to ``heap_bytes`` of the host;
    ``extra_conf`` overrides it.
    """
    host = host_facts()
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS') or host['nproc']}]"
    if shuffle_partitions is None:
        shuffle_partitions = host["nproc"]

    if _PKG_ROOT not in sys.path:
        sys.path.insert(0, _PKG_ROOT)
    worker_pythonpath = _PKG_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    # local mode: python workers fork from the driver JVM and read the
    # process env — set it before the JVM starts
    os.environ["PYTHONPATH"] = worker_pythonpath

    builder = (
        SparkSession.builder.master(master)
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        .config("spark.yarn.appMasterEnv.PYTHONPATH", worker_pythonpath)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # coalescePartitions collapses small shuffles to ~1 partition and
        # serializes every downstream stage — measured 1.6-3x wall-time on
        # the KG pipeline at local scale and it would cap scaling the same
        # way. We size spark.sql.shuffle.partitions to cores up front
        # instead; skew-join stays on (the protection that matters at
        # 100 TB, where partitions are never tiny).
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # heap from the host (heap_bytes): a fixed size overcommits a
        # small host (a 16g heap cannot even be mapped on 16 GB) and, on
        # a large one, G1 on a 48g heap with 32 allocating task threads
        # stalled for minutes in GC. On a real cluster this is executor
        # memory per ~4-8 cores.
        .config("spark.driver.memory", f"{host['heap_mb']}m")
        # shuffle/spill scratch on tmpfs when available: the sandbox's
        # virtio disk caps at ~140 MB/s with high latency, which turns
        # every shuffle into an IO queue; on a real cluster this is the
        # executors' local NVMe (or a remote shuffle service)
        .config("spark.local.dir", _scratch_dir())
        # per-call Python call-site capture off (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # smaller input splits: the extraction stage is pandas-UDF-heavy
        # (~10x the per-byte cost of a plain scan), so 128MB packing gives
        # few, skewed tasks — 32MB keeps every core busy through the tail
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: str | StructType) -> DataFrame:
    """Driver-held ``rows`` (tuples in ``schema`` order; ``schema`` a DDL
    string or StructType) as a DataFrame planned as a ``LocalTableScan``.

    The rows cross to the JVM once, as one Arrow table.
    ``spark.createDataFrame(list)`` instead parallelizes the list into a
    ``PythonRDD``: every action on it runs a Python-worker job, which on
    a few-row lineage or dictionary frame costs more than the rows.
    Naive datetimes are read as UTC; tz-aware ones keep their instant."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array([_to_utc(v) for v in c] if pa.types.is_timestamp(f.type) else c,
                  type=f.type)
         for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)


def _to_utc(v):
    """A tz-aware ``datetime`` moved to UTC. pyarrow reads an aware value
    into a UTC timestamp column by its wall-clock fields, so 10:20+05:00
    would land as 10:20Z instead of 05:20Z."""
    return v.astimezone(timezone.utc) if isinstance(v, datetime) and v.tzinfo else v
