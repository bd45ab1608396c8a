"""The default driver heap (``session.heap_bytes``) is perfbench's
formula and always fits the host: a fixed 16g heap could not even be
mapped on a 16 GB host (the session died with JAVA_GATEWAY_EXITED).
Pure arithmetic, no Spark session."""

from __future__ import annotations

from glean_cetaf_rdfs_spark.session import GIB, heap_bytes, host_facts
from perfbench import hostenv

MEM_TOTALS = [2 * GIB, 4 * GIB, 8 * GIB, 16070 * 2**20, 16 * GIB, 32 * GIB,
              64 * GIB, 125 * GIB, 512 * GIB]
CORES = [1, 2, 4, 8, 16, 32, 64]


def test_heap_formula_matches_perfbench_and_fits_the_host():
    for mem in MEM_TOTALS:
        for cores in CORES:
            heap = heap_bytes(mem, cores)
            assert heap == hostenv.heap_bytes(mem, cores), (mem, cores)
            assert 1 * GIB <= heap <= 6 * GIB, (mem, cores)
            assert heap < mem, (mem, cores)


def test_heap_on_known_hosts():
    assert heap_bytes(16070 * 2**20, 4) // 2**20 == 3308  # 4 cores, 16 GB
    assert heap_bytes(125 * GIB, 32) == 6 * GIB           # 32 threads, 125 GiB


def test_host_facts_derive_the_heap_from_this_host():
    facts = host_facts()
    mem = facts["mem_total_mb"] * 2**20
    assert abs(facts["heap_mb"] - heap_bytes(mem, facts["nproc"]) // 2**20) <= 1
    assert facts["heap_mb"] < facts["mem_total_mb"]
