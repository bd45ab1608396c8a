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
    contract is clean + quarantined = input exactly. patterns={} means
    no rules (everything clean); only None selects the defaults."""
    df = spark.createDataFrame(
        [(1, None), (2, "mail me a@b.co")],
        "doc_id long, text string")
    got = {r["id"]: r for r in P.pii_scan(df, "doc_id", "text").collect()}
    assert got[1]["n_pii"] == 0 and got[1]["n_email"] == 0
    clean, bad = P.pii_gate(df, "text")
    assert {r["doc_id"] for r in clean.collect()} == {1}
    assert {r["doc_id"] for r in bad.collect()} == {2}
    assert clean.count() + bad.count() == df.count()
    clean_all, bad_none = P.pii_gate(df, "text", patterns={})
    assert clean_all.count() == 2 and bad_none.count() == 0
    scan = P.contamination_scan(df, "doc_id", "text", ["a@b"]).collect()
    assert {r["id"]: r["n_canary_hits"] for r in scan} == {1: 0, 2: 1}


def test_contamination_literal_counts(spark):
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


def test_contamination_table_matches_literal_path(spark):
    """On whitespace-clean text the broadcast eval-shingle table path
    (the 100 TB shape) agrees with the literal-canary path exactly, the
    join side is broadcast, and zero-hit docs survive with 0. The
    empty-canary guard fails fast instead of silently NULLing counts."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "merge batch then merge batch again soon"),
         (2, "query value appears just once here today"),
         (3, "nothing held out in this one at all")],
        "doc_id long, text string")
    canaries = ["merge batch", "query value"]
    lit = {r["id"]: r["n_canary_hits"] for r in
           P.contamination_scan(docs, "doc_id", "text", canaries).collect()}
    ev = spark.createDataFrame([(c,) for c in canaries], "sh string")
    tbl_df = P.contamination_scan_table(docs, "doc_id", "text", ev, k=2)
    tbl = {r["id"]: r["n_canary_hits"] for r in tbl_df.collect()}
    assert tbl == lit == {1: 2, 2: 1, 3: 0}
    plan = tbl_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    with pytest.raises(ValueError, match="empty"):
        P.contamination_scan(docs, "doc_id", "text", ["ok phrase", "  "])


def test_contamination_table_multi_width(spark):
    """Mixed-width eval table: per-width scans sum per doc; docs with
    zero hits stay present; empty eval table yields all zeros."""
    docs = spark.createDataFrame(
        [(1, "merge batch then run the full query value sweep now"),
         (2, "query value appears here and merge batch too"),
         (3, "nothing held out")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [("merge batch",), ("query value sweep",)], "sh string")
    got = {r["id"]: r["n_canary_hits"] for r in
           P.contamination_scan_table_multi(docs, "doc_id", "text",
                                            ev).collect()}
    assert got == {1: 2, 2: 1, 3: 0}   # doc1: both widths; doc2: 2-gram only
    empty = spark.createDataFrame([], "sh string")
    z = {r["id"]: r["n_canary_hits"] for r in
         P.contamination_scan_table_multi(docs, "doc_id", "text",
                                          empty).collect()}
    assert z == {1: 0, 2: 0, 3: 0}


def test_contamination_gate_literal_path(spark):
    """Literal-canary gate: inline predicate, both sides keep schema,
    NULL text is clean, threshold is a knob."""
    df = spark.createDataFrame(
        [(1, "the eval canary phrase appears twice: eval canary phrase"),
         (2, "no overlap with anything held out"),
         (3, None)],
        "doc_id long, text string")
    clean, bad = P.contamination_gate(df, "doc_id", "text",
                                      canaries=["eval canary phrase"])
    assert clean.columns == df.columns == bad.columns
    assert {r["doc_id"] for r in bad.collect()} == {1}
    assert {r["doc_id"] for r in clean.collect()} == {2, 3}
    # tolerate a single hit: the twice-hit doc still fails at max_hits=1
    clean1, bad1 = P.contamination_gate(df, "doc_id", "text",
                                        canaries=["eval canary phrase"],
                                        max_hits=1)
    assert {r["doc_id"] for r in bad1.collect()} == {1}
    clean2, bad2 = P.contamination_gate(df, "doc_id", "text",
                                        canaries=["eval canary phrase"],
                                        max_hits=2)
    assert bad2.count() == 0 and clean2.count() == 3


def test_contamination_gate_table_path_and_arg_contract(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),
         (2, "nothing shared here at all"),
         (3, None)],
        "doc_id long, text string")
    ev = spark.createDataFrame([("alpha beta",), ("gamma delta epsilon",)],
                               "sh string")
    clean, bad = P.contamination_gate(df, "doc_id", "text",
                                      eval_shingles=ev)
    assert {r["doc_id"] for r in bad.collect()} == {1}
    assert {r["doc_id"] for r in clean.collect()} == {2, 3}
    assert clean.columns == df.columns == bad.columns
    with pytest.raises(ValueError, match="exactly one"):
        P.contamination_gate(df, "doc_id", "text")
    with pytest.raises(ValueError, match="exactly one"):
        P.contamination_gate(df, "doc_id", "text",
                             canaries=["x y"], eval_shingles=ev)
    with pytest.raises(ValueError, match="empty or whitespace-only"):
        P.contamination_gate(df, "doc_id", "text", canaries=["  "])


def test_curate_corpus_optional_gates(spark, tmp_path):
    """Opt-in contamination + repetition stages: each fires on its
    planted doc, funnel gains 01b/05 with truthful counts, and the
    lineage chain keeps the rows_in == rows_out + rows_dropped
    invariant across all six stages."""
    from glean_cetaf_rdfs_spark.operators.repetition import GOPHER_THRESHOLDS
    from glean_cetaf_rdfs_spark.plans.curation import curate_corpus, run_curation

    rows = [
        (1, "s0", "plain unique survivor document with enough words here"),
        (2, "s0", "contains the held out eval phrase inside this text"),
        (3, "s1", "spam spam spam spam spam spam spam spam spam spam"),
        (4, "s1", "write to bob@mail.example.org for details please now"),
        (5, "s2", "another perfectly ordinary document with plenty words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    curated, funnel = curate_corpus(
        df, "doc_id", "text", min_tokens=5,
        contamination_canaries=["held out eval phrase"],
        repetition_thresholds=GOPHER_THRESHOLDS)
    f = {r["stage"]: r["n"] for r in funnel.collect()}
    assert f["00_input"] == 5
    assert f["01_pii_clean"] == 4          # PII doc 4 quarantined
    assert f["01b_decontaminated"] == 3    # canary doc 2 dropped
    assert f["04_quality_pass"] == 3       # repeat doc passes punct/len gate
    assert f["05_repetition_pass"] == 2    # ...but trips the Gopher rules
    assert {r["id"] for r in curated.collect()} == {1, 5}

    lineage = str(tmp_path / "lineage")
    run_curation(spark, df, str(tmp_path / "out"), lineage_path=lineage,
                 min_tokens=5,
                 contamination_canaries=["held out eval phrase"],
                 repetition_thresholds=GOPHER_THRESHOLDS)
    lrows = spark.read.parquet(lineage).collect()
    stages = {r["stage"] for r in lrows}
    assert {"pii_gate", "contamination_gate", "exact_dedup",
            "span_rewrite", "quality_gate", "repetition_gate"} <= stages
    for r in lrows:
        assert r["rows_in"] == r["rows_out"] + r["rows_dropped"], r
    by_stage = {r["stage"]: r for r in lrows}
    assert by_stage["contamination_gate"]["rows_dropped"] == 1
    assert by_stage["repetition_gate"]["rows_dropped"] == 1
