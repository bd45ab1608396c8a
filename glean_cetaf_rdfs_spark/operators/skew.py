"""Skew handling: salted two-phase aggregation — the engine's explicit
answer to hot keys (the reference randomizes harvest order with ``shuf``
for the same reason, get_RDF4domain…:488; north rule: "skew from hot
entities and long conversations is handled with salted
repartitioning").

When to use which:
* hot GROUP BY keys → :func:`salted_count`: add a deterministic salt,
  pre-aggregate on (key, salt), then merge — the hot key's rows spread
  over ``n_salts`` reducers. (Spark's map-side partial aggregation
  already does this for algebraic aggregates; the explicit form matters
  for exact-distinct style aggregations.)
* hot JOIN keys → broadcast the small side where it fits, and leave
  big×big to AQE skew-join (enabled in the session); salting both sides
  multiplies data.

Salts are deterministic (a hash of the row content), never random —
reruns must be idempotent (checkpoint/resume contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Add ``_salt`` in [0, n_salts): a pure hash of the full row
    content. Deterministic, so task-level retries re-route every row
    identically (Spark's indeterminate-stage rollback is only
    guaranteed for repartition-style plans, not for nondeterministic
    expressions feeding aggregation keys). Byte-identical duplicates of
    a hot key therefore share one shard."""
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.withColumn("_salt", F.pmod(row_hash, F.lit(n_salts)))


def salted_count(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """groupBy(key).count() in two phases for skewed keys:
    (key, salt) partial counts → merge. → (key, n)."""
    partial = (with_salt(df, n_salts).groupBy(key, "_salt")
               .agg(F.count(F.lit(1)).alias("_n")))
    return partial.groupBy(key).agg(F.sum("_n").alias("n"))
