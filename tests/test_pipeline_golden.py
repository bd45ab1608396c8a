"""Golden tests: the Spark pipeline's triple set vs the frozen pure-Python
oracle (exact match; BASELINE.json requires P/R ≥ 0.95, the suite asserts
1.0), plus the per-turn text-equality invariant and the Spark-vs-local
generator identity."""

from __future__ import annotations

from pyspark.sql import functions as F

from glean_cetaf_rdfs_spark.data.synthetic import transcripts_df, transcripts_pdf
from glean_cetaf_rdfs_spark.oracle import oracle_triples
from glean_cetaf_rdfs_spark.plans.pipeline import build_triples, run_pipeline


def _spark_triple_set(df):
    return {tuple(r) for r in df.select("graph", "subj", "pred", "obj", "obj_is_iri").collect()}


def test_generator_spark_matches_local(spark, tiny_pdf):
    sdf = transcripts_df(spark, 60, partitions=7)
    got = sdf.orderBy("conv_id", "turn_idx").toPandas()
    want = tiny_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["turn_idx"].tolist() == want["turn_idx"].tolist()
    assert got["text"].tolist() == want["text"].tolist()
    assert got["role"].tolist() == want["role"].tolist()


def test_turn_key_uniqueness(tiny_pdf):
    assert not tiny_pdf.duplicated(["conv_id", "turn_idx"]).any()


def test_pipeline_matches_oracle(spark, tiny_df, tiny_pdf):
    got = _spark_triple_set(build_triples(tiny_df))
    want = oracle_triples(tiny_pdf)
    missing = want - got
    extra = got - want
    precision = len(got & want) / max(len(got), 1)
    recall = len(got & want) / max(len(want), 1)
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision:.4f} R={recall:.4f} missing={list(missing)[:5]} extra={list(extra)[:5]}")
    # exact target: the rule dictionaries are shared, execution independent
    assert not missing, f"missing {len(missing)}: {sorted(missing)[:5]}"
    assert not extra, f"extra {len(extra)}: {sorted(extra)[:5]}"


def test_per_turn_text_equality_roundtrip(spark, tiny_df, tiny_pdf, tmp_path):
    """Input invariant (BASELINE.json input_hint): after a write/read
    round-trip the transcript text is unchanged under stable
    (conv_id, turn_idx) ordering."""
    path = str(tmp_path / "transcripts.parquet")
    tiny_df.write.mode("overwrite").parquet(path)
    back = (spark.read.parquet(path)
            .orderBy("conv_id", "turn_idx")
            .select("conv_id", "turn_idx", "text").toPandas())
    want = tiny_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert back["text"].tolist() == want["text"].tolist()


def test_output_deduped_and_graph_consistent(spark, tiny_df):
    final = build_triples(tiny_df).cache()
    n = final.count()
    assert n == final.dropDuplicates(["graph", "subj", "pred", "obj"]).count()
    # graph is always the subject's host
    bad = final.filter(
        F.col("graph") != F.concat(F.lit("http://"), F.regexp_extract("subj", r"^https?://([^/:]+)", 1))
    ).count()
    assert bad == 0
    final.unpersist()


def test_null_role_and_ts_match_oracle(spark, tmp_path):
    """A turn with a null role and a turn with a null ts pass the input
    gate; neither gets a roleName / created row (no ``"NaTZ"`` literal,
    no row with a null object), the output equals the oracle exactly,
    and every lineage row balances against the written table."""
    import datetime as dt

    import pandas as pd

    from glean_cetaf_rdfs_spark.data.synthetic import TRANSCRIPT_SCHEMA
    from glean_cetaf_rdfs_spark.functions.extraction_rules import extract_turn_triples

    pdf = pd.DataFrame(
        [("n-1", 0, None, "see http://a.example/x", None, dt.datetime(2024, 1, 1)),
         ("n-1", 1, "tool", 'note="" lat=1.5 long=2.5', "calc", None),
         ("n-2", 0, "user", "plain", None, dt.datetime(2024, 1, 2))],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    out, lin = str(tmp_path / "g"), str(tmp_path / "lin")
    final = run_pipeline(spark, spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA), out,
                         lineage_path=lin)
    want = oracle_triples(pdf)
    assert _spark_triple_set(final) == want
    assert not any(o is None or o == "NaTZ" for _, _, _, o, _ in want)
    rows = {r["stage"]: r for r in spark.read.parquet(lin).collect()}
    assert all(r["rows_in"] == r["rows_out"] + r["rows_dropped"] for r in rows.values())
    assert rows["gate"]["rows_out"] == len(pdf)
    raw = [t for r in pdf.itertuples(index=False)
           for t in extract_turn_triples(r.conv_id, r.turn_idx, r.role, r.text,
                                         r.tool, r.ts)]
    ec = rows["extract_canonicalize"]
    assert ec["rows_in"] == len(raw)
    assert ec["rows_dropped"] == 1  # the note="" row (P4)
    assert rows["materialize"]["rows_out"] == final.count() == len(want)
