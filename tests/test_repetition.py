"""Gopher-style repetition signal tests: hand-computed planted docs,
and full DuckDB oracle parity on the fixture corpus."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from glean_cetaf_rdfs_spark.operators import repetition as R

SF = "/root/testdata/sf0.001"


def _planted(spark):
    return spark.createDataFrame(
        [(1, "alpha beta\ngamma\nalpha beta\ndelta epsilon zeta eta theta"),
         (2, "spam spam spam spam spam spam"),
         (3, None),
         (4, "one two")],
        "doc_id long, text string")


def test_line_repetition_planted(spark):
    got = {r["id"]: r for r in
           R.line_repetition(_planted(spark), "doc_id", "text").collect()}
    # doc 1: 4 lines, "alpha beta" (10 chars) twice
    assert (got[1]["n_lines"], got[1]["n_dup_lines"]) == (4, 2)
    assert got[1]["n_dup_line_chars"] == 20
    assert got[1]["n_line_chars"] == 20 + 5 + 28
    # single-line docs cannot have duplicate lines
    assert (got[2]["n_dup_lines"], got[4]["n_dup_lines"]) == (0, 0)
    # NULL text → zero row, not a dropped id
    assert (got[3]["n_lines"], got[3]["n_line_chars"]) == (0, 0)


def test_ngram_repetition_planted(spark):
    got2 = {r["id"]: r for r in
            R.ngram_repetition(_planted(spark), "doc_id", "text", n=2).collect()}
    # doc 2: five "spam spam" bigrams, all identical
    assert got2[2]["n_ngrams"] == 5
    assert got2[2]["top_ngram_count"] == 5
    assert got2[2]["top_ngram_chars"] == 5 * len("spam spam")
    assert got2[2]["dup_ngram_count"] == 5
    # doc 4: one bigram, occurring once → top counted, no dups
    assert (got2[4]["top_ngram_count"], got2[4]["dup_ngram_count"]) == (1, 0)
    got5 = {r["id"]: r for r in
            R.ngram_repetition(_planted(spark), "doc_id", "text", n=5).collect()}
    # doc 2: two overlapping 5-grams, identical → both are dups
    assert got5[2]["dup_ngram_count"] == 2
    assert got5[2]["dup_ngram_chars"] == 2 * len("spam spam spam spam spam")
    # shorter than 5 tokens → all-zero row
    assert (got5[4]["n_ngrams"], got5[4]["dup_ngram_chars"]) == (0, 0)
    assert (got5[3]["n_ngrams"], got5[3]["top_ngram_count"]) == (0, 0)


def test_signals_overlap_naive_can_exceed_one(spark):
    """Documented contract: dup_ngram_char_frac is overlap-naive, so a
    pure-repeat doc pushes it past 1.0 — monotone repetition score, not
    a coverage fraction (coverage is spandedup's job)."""
    sig = {r["id"]: r for r in
           R.repetition_signals(_planted(spark), "doc_id", "text").collect()}
    assert sig[2]["dup_ngram_char_frac"] > 1.0
    assert sig[3]["dup_line_frac"] == 0.0  # NULL text → zeros throughout
    assert sig[1]["dup_line_frac"] == 0.5
    assert sig[1]["dup_line_char_frac"] == pytest.approx(20 / 53, abs=1e-4)


def test_repetition_signals_duckdb_parity(spark):
    """Full-column oracle on the fixture corpus: every integer count and
    every rounded fraction matches DuckDB bit-for-bit (ints) / to 4 dp
    (the committed rounding)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {r["id"]: r for r in
           R.repetition_signals(docs, "doc_id", "text").collect()}
    want = duckdb.sql(f"""
        WITH d AS (SELECT doc_id AS id, coalesce(text, '') AS text
                   FROM '{SF}/documents.parquet'),
        base AS (SELECT id, CAST(length(text) AS BIGINT) AS n_chars FROM d),
        lr AS (SELECT id, trim(l) AS line
               FROM (SELECT id, unnest(string_split_regex(text, chr(10))) AS l
                     FROM d)
               WHERE trim(l) <> ''),
        pl AS (SELECT id, line, count(*) AS cnt,
                      CAST(length(line) AS BIGINT) AS chars
               FROM lr GROUP BY id, line),
        ld AS (SELECT id, sum(cnt) AS n_lines,
                      sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS n_dup_lines,
                      sum(cnt * chars) AS n_line_chars,
                      sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END)
                          AS n_dup_line_chars
               FROM pl GROUP BY id),
        t AS (SELECT id, list_filter(string_split(text, ' '), x -> x <> '')
                     AS toks FROM d),
        p2 AS (SELECT id, array_to_string(list_slice(toks, i + 1, i + 2), ' ')
                      AS sh
               FROM (SELECT id, toks,
                            unnest(range(0, greatest(len(toks) - 1, 0))) AS i
                     FROM t)),
        c2 AS (SELECT id, sh, count(*) AS cnt,
                      CAST(length(sh) AS BIGINT) AS chars
               FROM p2 GROUP BY id, sh),
        top2 AS (SELECT id, CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END
                            AS top_ngram_chars
                 FROM (SELECT id, cnt, chars,
                              row_number() OVER (PARTITION BY id
                                  ORDER BY cnt DESC, chars DESC, sh DESC) AS rn
                       FROM c2)
                 WHERE rn = 1),
        p5 AS (SELECT id, array_to_string(list_slice(toks, i + 1, i + 5), ' ')
                      AS sh
               FROM (SELECT id, toks,
                            unnest(range(0, greatest(len(toks) - 4, 0))) AS i
                     FROM t)),
        c5 AS (SELECT id, sh, count(*) AS cnt,
                      CAST(length(sh) AS BIGINT) AS chars
               FROM p5 GROUP BY id, sh),
        d5 AS (SELECT id,
                      sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END)
                          AS dup_ngram_chars
               FROM c5 GROUP BY id)
        SELECT base.id, base.n_chars,
               coalesce(ld.n_lines, 0) AS n_lines,
               round(coalesce(ld.n_dup_lines, 0)
                     / greatest(coalesce(ld.n_lines, 0), 1), 4)
                   AS dup_line_frac,
               round(coalesce(ld.n_dup_line_chars, 0)
                     / greatest(coalesce(ld.n_line_chars, 0), 1), 4)
                   AS dup_line_char_frac,
               round(coalesce(top2.top_ngram_chars, 0)
                     / greatest(base.n_chars, 1), 4) AS top_ngram_char_frac,
               round(coalesce(d5.dup_ngram_chars, 0)
                     / greatest(base.n_chars, 1), 4) AS dup_ngram_char_frac
        FROM base LEFT JOIN ld USING (id) LEFT JOIN top2 USING (id)
                  LEFT JOIN d5 USING (id)
        ORDER BY base.id
    """).df()
    assert len(want) == len(got) > 0
    for _, w in want.iterrows():
        g = got[int(w["id"])]
        assert (g["n_chars"], g["n_lines"]) == (w["n_chars"], w["n_lines"])
        for col in ("dup_line_frac", "dup_line_char_frac",
                    "top_ngram_char_frac", "dup_ngram_char_frac"):
            assert g[col] == pytest.approx(float(w[col]), abs=1e-9), \
                (int(w["id"]), col)


def test_top_ngram_tiebreak_deterministic(spark):
    """All bigrams unique (count 1): the argmax must tiebreak by
    (chars, sh), not partition order — repartitioning cannot change
    the answer."""
    df = spark.createDataFrame(
        [(1, "bb cc aa dd longword1 longword2")], "doc_id long, text string")
    one = R.ngram_repetition(df, "doc_id", "text", n=2).collect()[0]
    many = (R.ngram_repetition(df.repartition(7), "doc_id", "text", n=2)
            .collect()[0])
    assert one["top_ngram_chars"] == many["top_ngram_chars"] \
        == len("longword1 longword2")


def test_paragraph_level_variant(spark):
    """sep is the unit boundary: with a blank-line separator the same
    counting plan measures duplicate PARAGRAPHS (Gopher runs both
    granularities)."""
    text = ("intro paragraph here\n\nrepeated body paragraph\n\n"
            "repeated body paragraph\n\nclosing words")
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    para = R.line_repetition(df, "doc_id", "text", sep="\n\n").collect()[0]
    assert (para["n_lines"], para["n_dup_lines"]) == (4, 2)
    line = R.line_repetition(df, "doc_id", "text").collect()[0]
    # line-level sees the same units here plus no extra dups
    assert line["n_dup_lines"] == 2
