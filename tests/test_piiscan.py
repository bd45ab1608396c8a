"""PII / contamination scan operator tests: exact span counts on
planted spans, quarantine-gate split semantics, literal-canary
occurrence math."""

from __future__ import annotations

from glean_cetaf_rdfs_spark.operators import piiscan as P


def _df(spark):
    return spark.createDataFrame(
        [(1, "reach me at alice.smith+work@mail.example.org today"),
         (2, "two mails a@b.co and c.d@e-f.org plus ip 192.168.0.1"),
         (3, "call +44-555-1234 or +1-555-0000 now"),
         (4, "nothing sensitive in this perfectly clean document"),
         (5, "ip 10.0.0.1 and version 1.2.3 but not 1.2.3.4.5 hmm")],
        "doc_id long, text string")


def test_pii_scan_exact_counts(spark):
    got = {r["id"]: r for r in
           P.pii_scan(_df(spark), "doc_id", "text").collect()}
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ipv4"]) == (1, 0, 0)
    assert (got[2]["n_email"], got[2]["n_ipv4"]) == (2, 1)
    assert got[3]["n_phone"] == 2
    assert got[4]["n_pii"] == 0
    # "1.2.3" is not an IPv4; "1.2.3.4.5" matches on its first 4 octets
    # (\b boundaries are digit/non-digit, '.' is a non-word char)
    assert got[5]["n_ipv4"] == 2
    for r in got.values():
        assert r["n_pii"] == r["n_email"] + r["n_phone"] + r["n_ipv4"]


def test_pii_gate_split_and_schema(spark):
    df = _df(spark)
    clean, bad = P.pii_gate(df, "text")
    assert clean.columns == df.columns == bad.columns
    assert {r["doc_id"] for r in clean.collect()} == {4}
    assert {r["doc_id"] for r in bad.collect()} == {1, 2, 3, 5}
    # threshold is a knob: ≤2 hits tolerated keeps single-span docs
    clean2, bad2 = P.pii_gate(df, "text", max_hits=2)
    assert {r["doc_id"] for r in bad2.collect()} == {2}


def test_pii_null_text_and_empty_patterns(spark):
    """NULL text rows count 0 hits and land on the CLEAN side — the gate
    contract is clean + quarantined = input exactly."""
    df = spark.createDataFrame(
        [(1, None), (2, "mail me a@b.co")],
        "doc_id long, text string")
    got = {r["id"]: r for r in P.pii_scan(df, "doc_id", "text").collect()}
    assert got[1]["n_pii"] == 0 and got[1]["n_email"] == 0
    clean, bad = P.pii_gate(df, "text")
    assert {r["doc_id"] for r in clean.collect()} == {1}
    assert {r["doc_id"] for r in bad.collect()} == {2}
    assert clean.count() + bad.count() == df.count()
    scan = P.contamination_scan(df, "doc_id", "text", ["a@b"]).collect()
    assert {r["id"]: r["n_canary_hits"] for r in scan} == {1: 0, 2: 1}


def test_contamination_literal_counts(spark):
    """Literal occurrence counts; the empty-canary guard fails fast
    instead of silently NULLing counts."""
    import pytest

    df = spark.createDataFrame(
        [(1, "the eval canary phrase appears twice: eval canary phrase"),
         (2, "no overlap with anything held out"),
         (3, "eval canary phrase once and special .*[chars] too")],
        "doc_id long, text string")
    got = {r["id"]: r["n_canary_hits"] for r in
           P.contamination_scan(df, "doc_id", "text",
                                ["eval canary phrase", ".*[chars]"]).collect()}
    # literal matching — regex metacharacters in canaries are inert
    assert got == {1: 2, 2: 0, 3: 2}
    with pytest.raises(ValueError, match="empty"):
        P.contamination_scan(df, "doc_id", "text", ["ok phrase", "  "])


def test_curate_corpus_end_to_end(spark):
    """Every stage of the curation funnel fires on its planted doc: the
    PII doc is quarantined, the boilerplate span is removed from its
    carriers, the all-punct doc fails the quality gate, the exact dup
    collapses to the lowest id, and the funnel counts match."""
    from glean_cetaf_rdfs_spark.plans.curation import curate_corpus

    boiler = "released under the example open license terms apply"
    rows = [
        (1, "s0", "alpha beta gamma delta epsilon zeta " + boiler),
        (2, "s0", boiler + " one two three four five six"),
        (3, "s1", "write to bob@mail.example.org for details please now"),
        (4, "s1", "!!! ??? ... ;;; ### $$$ %%% &&& *** ((("),
        (5, "s2", "plain unique survivor document with enough words here"),
        (6, "s2", "plain unique survivor document with enough words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    curated, funnel = curate_corpus(df, "doc_id", "text",
                                    k=5, min_docs=2, min_tokens=5)
    f = {r["stage"]: r["n"] for r in funnel.collect()}
    assert f["00_input"] == 6
    assert f["01_pii_clean"] == 5          # doc 3 quarantined
    assert f["02_unique"] == 4             # 5/6 collapse to lowest id
    assert f["03_span_tokens_removed"] >= 2 * len(boiler.split())
    assert f["04_quality_pass"] == 3       # doc 4 fails punct gate
    out = {r["id"]: r for r in curated.collect()}
    assert set(out) == {1, 2, 5}           # lowest id survives the dup
    assert boiler not in out[1]["text_clean"]
    assert boiler not in out[2]["text_clean"]
    assert "alpha" in out[1]["text_clean"]


def test_run_curation_writes_partitions_and_lineage(spark, tmp_path):
    """run_curation materializes survivors partitioned by source and
    appends one lineage row per funnel stage, each satisfying
    rows_in == rows_out + rows_dropped, chaining stage to stage."""
    import glob

    from glean_cetaf_rdfs_spark.plans.curation import run_curation

    rows = [(1, "s0", "alpha beta gamma delta epsilon zeta eta"),
            (2, "s0", "alpha beta gamma delta epsilon zeta eta"),  # dup of 1
            (3, "s1", "write to bob@mail.example.org for details please"),
            (4, "s1", "one two three four five six seven eight")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out, ck = str(tmp_path / "corpus"), str(tmp_path / "lineage")
    final = run_curation(spark, df, out, lineage_path=ck)
    assert {r["id"] for r in final.collect()} == {1, 4}
    assert glob.glob(out + "/source=s0")       # partitioned layout
    lin = {r["stage"]: r for r in spark.read.parquet(ck).collect()}
    assert set(lin) == {"pii_gate", "exact_dedup", "span_rewrite",
                        "quality_gate"}
    for r in lin.values():
        assert r["rows_in"] == r["rows_out"] + r["rows_dropped"]
    assert lin["pii_gate"]["rows_dropped"] == 1      # doc 3
    assert lin["exact_dedup"]["rows_dropped"] == 1   # doc 2
    assert lin["pii_gate"]["rows_out"] == lin["exact_dedup"]["rows_in"]
    assert lin["exact_dedup"]["rows_out"] == lin["quality_gate"]["rows_in"]


def test_curate_corpus_null_and_empty_text(spark):
    """NULL-text docs must NOT silently vanish at the dedup stage
    (md5(NULL) is NULL and a NULL key never equi-joins — round-4
    advice): NULLs dedup among THEMSELVES, separately from ''-text
    docs (the DuckDB GROUP BY md5(t) semantics), then fall out at the
    quality gate like the oracle's NULL-predicate filter does."""
    from glean_cetaf_rdfs_spark.plans.curation import curate_corpus

    rows = [(1, "s0", None), (2, "s0", None), (3, "s0", ""),
            (4, "s1", "plain unique survivor document with enough words")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    _curated, funnel = curate_corpus(df, "doc_id", "text", min_tokens=5)
    f = {r["stage"]: r["n"] for r in funnel.collect()}
    assert f["00_input"] == 4
    assert f["01_pii_clean"] == 4
    # NULL group -> one rep (id 1), '' its own group, doc 4 unique
    assert f["02_unique"] == 3
    assert f["04_quality_pass"] == 1


def test_curate_corpus_single_pass_plan(spark):
    """The expensive stages run ONCE at build time and every funnel
    branch is a file scan: the funnel's physical plan contains no Window
    (span rewrite) and no regexp PII scan — those executed during
    curate_corpus itself."""
    from glean_cetaf_rdfs_spark.plans.curation import curate_corpus

    rows = [(i, f"s{i % 2}", f"document number {i} with several words inside")
            for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    _curated, funnel = curate_corpus(df, "doc_id", "text")
    plan = funnel._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan           # span rewrite not re-executed
    assert "regexp_extract_all" not in plan  # PII scan not re-executed
    # every 5-shingle holds the doc's own number: nothing is common,
    # nothing is PII, and all 8 distinct docs pass the quality gate
    assert {(r["stage"], r["n"]) for r in funnel.collect()} == {
        ("00_input", 8), ("01_pii_clean", 8), ("02_unique", 8),
        ("03_span_tokens_removed", 0), ("04_quality_pass", 8)}
