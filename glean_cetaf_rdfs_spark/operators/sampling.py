"""Deterministic stratified sampling — training-mix construction.

A pre-training corpus is assembled by sampling each source (stratum) at
its own rate. The standard engine-native tool (``df.sampleBy``) draws
from a seeded RNG whose stream depends on partitioning, so a rerun
after a repartition samples a DIFFERENT subset — unacceptable for
reproducible data builds. This operator keys the decision on the ROW
itself: keep a row iff

    hash_bucket(id) = int(md5(salt || id)[:8], 16) mod 1000  <  permille

so membership is a pure function of (salt, id, rate): stable across
partitioning, executors, retries, and engines (md5 is bit-identical
everywhere, which also makes every query here fully DuckDB-oracle-able
— Spark's xxhash64 is not portable). Raising a stratum's rate is
MONOTONE: the kept set at 300‰ is a superset of the kept set at 200‰,
so mix rebalancing only adds/removes the marginal rows — the property
incremental corpus builds rely on.

Scale shape: the rates table is broadcast (strata counts are small by
definition); the filter is one codegen'd projection — no shuffle at
all until the caller aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def hash_bucket(id_col: Column, salt: str = "", n_buckets: int = 1000) -> Column:
    """Deterministic bucket in [0, n_buckets): first 8 md5 hex chars of
    (salt || id) as an integer, mod n_buckets. Portable across engines
    (DuckDB: ``('0x' || substr(md5(...), 1, 8))::UBIGINT % n``)."""
    h = F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 8)
    return (F.conv(h, 16, 10).cast("long") % n_buckets).alias("bucket")


def sample_stratified(df: DataFrame, id_col: str, strata_col: str,
                      rates_permille: dict[str, int],
                      salt: str = "") -> DataFrame:
    """Keep each row of stratum s with probability rates_permille[s]/1000,
    deterministically (see module docstring). Strata absent from the
    dict are dropped (rate 0). Returns the input schema unchanged."""
    spark = df.sparkSession
    rates = local_frame(
        spark, [(k, int(v)) for k, v in sorted(rates_permille.items())],
        f"{strata_col} string, _permille int")
    bucket = hash_bucket(F.col(id_col), salt)
    return (df.join(F.broadcast(rates), strata_col)
            .filter(bucket < F.col("_permille"))
            .select(*df.columns))  # join reorders; restore input schema
