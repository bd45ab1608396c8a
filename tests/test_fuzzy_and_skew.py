"""Fuzzy linking (LSH blocking + vectorized scoring) and skew utilities."""

from __future__ import annotations

from pyspark.sql import functions as F

from glean_cetaf_rdfs_spark.operators.link_fuzzy import fuzzy_link
from glean_cetaf_rdfs_spark.operators.skew import salted_count, with_salt

NAMES = [
    ("Botanic Garden and Botanical Museum Berlin", "https://ror.org/00bv4cx53"),
    ("Royal Botanic Garden Edinburgh", "https://ror.org/0349vqz63"),
    ("Royal Botanic Gardens Kew", "https://ror.org/00ynnr806"),
    ("Meise Botanic Garden", "https://ror.org/01h1jbk91"),
    ("Natural History Museum Stuttgart", "https://ror.org/05k35b119"),
    ("Finnish Museum of Natural History", "https://ror.org/03tcx6c30"),
]


def test_fuzzy_link_typos_and_variants(spark):
    dict_df = spark.createDataFrame(NAMES, "name string, canonical_id string")
    mentions = spark.createDataFrame([
        ("botanic garden and botanical museum berlin",),   # case
        ("Royal Botanic Garden Edinburg",),                # typo
        ("Kew Royal Botanic Gardens",),                    # word order
        ("Meise Botanic Gardn",),                          # typo
        ("completely unrelated text about spark",),        # no match
    ], "mention string")
    got = {r["mention"]: r["canonical_id"]
           for r in fuzzy_link(mentions, dict_df, threshold=0.45).collect()}
    assert got["botanic garden and botanical museum berlin"] == "https://ror.org/00bv4cx53"
    assert got["Royal Botanic Garden Edinburg"] == "https://ror.org/0349vqz63"
    assert got["Kew Royal Botanic Gardens"] == "https://ror.org/00ynnr806"
    assert got["Meise Botanic Gardn"] == "https://ror.org/01h1jbk91"
    assert "completely unrelated text about spark" not in got


def test_fuzzy_link_exact_match_scores_1(spark):
    dict_df = spark.createDataFrame(NAMES, "name string, canonical_id string")
    mentions = spark.createDataFrame([("Meise Botanic Garden",)], "mention string")
    row = fuzzy_link(mentions, dict_df, threshold=0.9).collect()[0]
    assert row["score"] == 1.0


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
