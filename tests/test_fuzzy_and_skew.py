"""Skew utilities: salted two-phase counts and content-hash salts."""

from __future__ import annotations

from pyspark.sql import functions as F

from glean_cetaf_rdfs_spark.operators.skew import salted_count, with_salt


def _skewed_df(spark):
    # hot key: 'hot' appears 5000x, 50 cold keys 10x each
    rows = [("hot", f"v{i % 70}") for i in range(5000)]
    rows += [(f"cold{k}", f"v{i}") for k in range(50) for i in range(10)]
    return spark.createDataFrame(rows, "key string, payload string")


def test_salted_count_matches_plain(spark):
    df = _skewed_df(spark)
    plain = {r["key"]: r["n"] for r in
             df.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["key"]: r["n"] for r in salted_count(df, "key").collect()}
    assert salted == plain


def test_salt_spreads_identical_duplicate_rows(spark):
    """Salts are a deterministic content hash, per the idempotent-routing
    contract: byte-identical duplicates of one hot key share a shard, so
    a task retry re-routes every row identically."""
    df = spark.createDataFrame([("hot", "same-payload")] * 2000,
                               "key string, payload string").repartition(8)
    n_det = with_salt(df, n_salts=16).select("_salt").distinct().count()
    assert n_det == 1
