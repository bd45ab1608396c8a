"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship multi-join aggregation on sf0.001.
``queries()`` — the curated 50-entry ORDERED contract: one row per
implemented operator family (SURVEY.md §2) plus the KG pipeline and
training-data operators; each callable takes (spark, sf_dir) and
returns a DataFrame. The driver grades only the first 50 entries, so
ordering and the fold set below are part of the contract.
``oracle_sql()`` — DuckDB-equivalent SQL per query (every contract row
carries one).
``bench_queries()`` — the full unfolded registry for bench.py.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from glean_cetaf_rdfs_spark.queries import RELATIONAL_QUERIES  # noqa: E402
from glean_cetaf_rdfs_spark.queries_data import (  # noqa: E402
    CONTRACT_FOLDED_OUT,
    CONTRACT_FOLDS,
    DATA_QUERIES,
)

# The driver grades at most 50 queries, in ``queries()`` iteration
# order (CORRECTNESS_r04: 54 registered → exactly the first 50 graded,
# silently dropping the flagship q32). The contract is therefore a
# curated ≤50-entry ordered view: the flagship and the previously
# ungraded queries lead, four redundant rows are folded into their
# siblings (CONTRACT_FOLDS / CONTRACT_FOLDED_OUT, queries_data.py) so
# every implementation path still gets a driver row, and the full
# unfolded registry stays benchmarked via ``bench_queries()``.
_CONTRACT_CAP = 50
_CONTRACT_FIRST = [
    "q32_kg_pipeline_predicates",  # flagship KG pipeline — graded first
    "q53_token_packing",           # never driver-graded before r5
    "q30_multimodal_metadata",
    "q31_frame_sample_plan",
    "q51_curation_funnel",         # curation capstone
]

_KG_SCALE = {"sf0.001": 60, "sf0.01": 400, "sf0.1": 2500}

# Frozen golden for q32 from the INDEPENDENT pure-Python rule oracle
# (glean_cetaf_rdfs_spark.oracle.oracle_triples) at the driver's
# correctness scale (sf0.01 → 400 conversations). The engine is asserted
# exactly equal to that oracle in pytest (test_pipeline_golden), and
# tests/test_entry_contract.py REGENERATES these numbers from the oracle
# every run — any drift fails the suite before it can reach the driver.
_Q32_ORACLE_ROWS = [
    ("http://purl.org/dc/terms/conformsTo", 3238),
    ("http://purl.org/dc/terms/created", 5667),
    ("http://purl.org/dc/terms/hasPart", 547),
    ("http://purl.org/dc/terms/isPartOf", 14208),
    ("http://purl.org/dc/terms/publisher", 423),
    ("http://rs.tdwg.org/dwc/iri/recordedBy", 547),
    ("http://rs.tdwg.org/dwc/terms/associatedMedia", 446),
    ("http://rs.tdwg.org/dwc/terms/collectionCode", 717),
    ("http://rs.tdwg.org/dwc/terms/institutionID", 3510),
    ("http://schema.org/mentions", 8048),
    ("http://schema.org/roleName", 5667),
    ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", 6120),
    ("http://www.w3.org/2002/07/owl#sameAs", 3744),
    ("http://www.w3.org/2003/01/geo/wgs84_pos#lat", 1038),
    ("http://www.w3.org/2003/01/geo/wgs84_pos#long", 1038),
    ("http://www.w3.org/ns/prov#used", 1600),
]

_Q32_SQL = ("SELECT pred, CAST(n_triples AS BIGINT) AS n_triples FROM (VALUES "
            + ", ".join(f"('{p}', {n})" for p, n in _Q32_ORACLE_ROWS)
            + ") t(pred, n_triples) ORDER BY pred")


def _kg_pipeline_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship KG pipeline: run the full extract→canonicalize→link→
    enrich→dedupe plan over deterministic synthetic transcripts sized to
    the sf, count triples per predicate. Oracle = frozen VALUES from the
    independent pure-Python rule oracle at sf0.01 (see _Q32_ORACLE_ROWS;
    drift-guarded in pytest)."""
    from glean_cetaf_rdfs_spark.data.synthetic import transcripts_df
    from glean_cetaf_rdfs_spark.plans.pipeline import build_triples

    n = 200
    for key, scale in _KG_SCALE.items():
        if sf_dir.rstrip("/").endswith(key):
            n = scale
    triples = build_triples(transcripts_df(spark, n))
    return (triples.groupBy("pred").agg(F.count(F.lit(1)).alias("n_triples"))
            .orderBy("pred"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: revenue per nation — scan → broadcast dims → join → agg
    → order (exercises pushdown, broadcast join, partial agg)."""
    sf = "/root/testdata/sf0.001"
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy(F.col("revenue").desc()))


def _full_registry() -> dict[str, tuple[Callable, str | None]]:
    """Every implemented query, unfolded (55 entries) — the bench set."""
    full: dict[str, tuple[Callable, str | None]] = {}
    for reg in (RELATIONAL_QUERIES, DATA_QUERIES):
        full.update(reg)
    full["q32_kg_pipeline_predicates"] = (_kg_pipeline_predicates, _Q32_SQL)
    return full


def _contract() -> dict[str, tuple[Callable, str | None]]:
    """The ≤50-entry ordered driver contract (see module comment)."""
    full = _full_registry()
    full.update(CONTRACT_FOLDS)
    for name in CONTRACT_FOLDED_OUT:
        full.pop(name)
    ordered = {name: full.pop(name) for name in _CONTRACT_FIRST}
    ordered.update(full)
    if len(ordered) > _CONTRACT_CAP:  # not assert: stripped under -O,
        # and silently exceeding the cap re-creates the r04 failure
        # (the driver grades only the first 50, dropping the tail)
        raise RuntimeError(
            f"driver contract has {len(ordered)} entries > cap "
            f"{_CONTRACT_CAP}; fold or drop queries (see CONTRACT_FOLDS)")
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _contract().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _contract().items()
            if sql is not None}


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The full unfolded registry — bench.py times the narrow
    single-path queries even where the contract grades a fold."""
    return {name: fn for name, (fn, _sql) in _full_registry().items()}
