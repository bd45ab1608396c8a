"""Unit tests for the shared rule functions (mention grammar + URI
canonicalization) — the golden-rule fixtures from SURVEY.md §2.2."""

from glean_cetaf_rdfs_spark.functions import mentions as M
from glean_cetaf_rdfs_spark.functions.uri import (
    canonicalize_py,
    match_keys_py,
    url_domain_py,
)


def test_extract_urls_bare_and_bracket():
    text = 'see http://a.example/x see <http://dirty.example/a b/1> tail'
    assert M.extract_urls(text) == ["http://dirty.example/a b/1", "http://a.example/x"]


def test_extract_urls_stops_at_illegal_chars():
    assert M.extract_urls("x https://b.example/p]q") == ["https://b.example/p"]


def test_coords_rounding_rule():
    # ≥6 decimals → 5 dp (JACQ.sh:390-395); shorter passes through
    assert M.round_decimal_literal("1.2345678") == "1.23457"
    assert M.round_decimal_literal("1.234") == "1.234"
    assert M.extract_coords("lat=10.123456 long=-3.123") == [("10.12346", "-3.123")]


def test_collection_and_flags():
    assert M.extract_collection_codes('collection "TUR-A" x') == ["TUR-A"]
    assert M.has_empty_note('a note="" b')
    assert M.is_event_marked("x eventtype=Event")
    assert not M.is_event_marked("x eventtype=Eventual")


def test_canonicalize_port_strip():
    assert canonicalize_py("https://d.example:443/a") == "https://d.example/a"
    assert canonicalize_py("http://d.example:80/a") == "http://d.example/a"
    assert canonicalize_py("http://d.example:8080/a") == "http://d.example:8080/a"


def test_canonicalize_wikidata():
    for u in ("https://m.wikidata.org/wiki/Q7", "http://www.wikidata.org/wiki/Q7",
              "https://www.wikidata.org/entity/Q7"):
        assert canonicalize_py(u) == "http://www.wikidata.org/entity/Q7"


def test_canonicalize_viaf_and_scheme():
    assert canonicalize_py("http://viaf.org/viaf/12345/#entity") == "http://viaf.org/viaf/12345"
    assert canonicalize_py("http://viaf.org/viaf/12345/rdf.xml") == "http://viaf.org/viaf/12345"
    assert canonicalize_py("https://ipni.example/id/9") == "http://ipni.example/id/9"
    assert canonicalize_py("https://other.example/id/9") == "https://other.example/id/9"


def test_canonicalize_percent_encoding():
    assert canonicalize_py("http://d.example/a b/c^d") == "http://d.example/a%20b/c%5Ed"
    assert canonicalize_py("http://d.example/x[1]`\\") == "http://d.example/x%5B1%5D%60%5C"


def test_match_keys():
    assert match_keys_py("http://dr.herbaria.example/spec/5") == [
        "dr.herbaria.example",
        "dr.herbaria.example/spec",
        "dr.herbaria.example/spec/5",
    ]
    # port stripped from domain key; query segment stops key growth
    assert match_keys_py("http://tun.example:80/a?format=X") == ["tun.example"]
    assert url_domain_py("https://x.example:443/a") == "x.example"


def test_extract_recorded_by_not_a_mention():
    """recordedby= spans become dwciri:recordedBy, never plain mentions
    (G4 trigger fidelity — JACQ.sh:446-447)."""
    text = "x recordedby=http://viaf.org/viaf/123 see http://a.example/y"
    rb, rest = M.extract_recorded_by(text)
    assert rb == ["http://viaf.org/viaf/123"]
    assert M.extract_urls(rest) == ["http://a.example/y"]


def test_haspart_gated_on_recorded_by():
    """A wikidata MENTION alone must NOT graft hasPart; a recordedBy into
    wikidata/viaf must (matching the reference's dwciri:recordedBy gate)."""
    from glean_cetaf_rdfs_spark.data import vocab as V
    from glean_cetaf_rdfs_spark.data.synthetic import transcripts_pdf
    from glean_cetaf_rdfs_spark.oracle import oracle_triples
    import pandas as pd

    base = transcripts_pdf(1).iloc[:2].copy()
    base["text"] = [
        "see http://www.wikidata.org/entity/Q42",          # mention only
        "recordedby=https://m.wikidata.org/wiki/Q43 hi",   # recordedBy (alias)
    ]
    got = oracle_triples(base)
    preds_by_subj = {}
    for g, s, p, o, _ in got:
        preds_by_subj.setdefault(s, set()).add((p, o))
    t0 = V.turn_uri(base.iloc[0]["conv_id"], 0)
    t1 = V.turn_uri(base.iloc[1]["conv_id"], 1)
    wd = V.O_WIKIDATA_ROOT
    assert (V.P_HAS_PART, wd) not in preds_by_subj[t0]
    assert (V.P_MENTIONS, wd + "Q42") in preds_by_subj[t0]
    assert (V.P_HAS_PART, wd) in preds_by_subj[t1]
    assert (V.P_RECORDED_BY, wd + "Q43") in preds_by_subj[t1]
    # alias spelling canonicalized on the recordedBy path too
    assert (wd + "Q43", V.P_IS_PART_OF, wd) in {(s, p, o) for _, s, p, o, _ in got}


def test_fix_text_comment_and_html_excision():
    """P10/P6: URLs inside XML comments or embedded HTML payloads are
    never data (fixRDF:386-394, 358-366)."""
    t = ("keep http://a.example/1 <!-- see http://hidden.example/c -- x --> "
         "<!DOCTYPE html><html><b>http://hidden.example/h</b></html> tail")
    fixed = M.fix_text(t)
    assert "hidden.example" not in fixed
    assert M.extract_urls(fixed) == ["http://a.example/1"]


def test_doubled_uri_fix():
    """P12 (fixRDF:408-409): value = one URL repeated twice → one copy."""
    u = "http://dup.example/r/7"
    assert canonicalize_py(u + u) == u
    assert canonicalize_py(u) == u  # non-doubled unchanged
    # two DIFFERENT urls concatenated are not a double
    v = "http://dup.example/r/8"
    assert canonicalize_py(u + v) == u + v
    # one pass, as in the reference's sed chain: a 4x repeat halves once
    assert canonicalize_py(u * 4) == u * 2


def test_amp_escape_decode():
    """P13 (fixRDF:412-413) net of the parser's unescape."""
    assert (canonicalize_py("http://o.example/q?a=1&amp;b=2")
            == "http://o.example/q?a=1&b=2")
    # one pass, as in the reference's sed chain: a doubly escaped
    # ampersand loses one escape level, not both
    assert (canonicalize_py("http://a.example/x?a=1&amp;amp;b=2")
            == "http://a.example/x?a=1&amp;b=2")


def test_media_literal_retype_p19():
    """P19 (JACQ.sh:846-855): media="http://…" literal → IRI object,
    canonicalized (port strip applies after retype)."""
    from glean_cetaf_rdfs_spark.data import vocab as V
    from glean_cetaf_rdfs_spark.data.synthetic import transcripts_pdf
    from glean_cetaf_rdfs_spark.oracle import oracle_triples

    base = transcripts_pdf(1).iloc[:1].copy()
    base["text"] = ['media="https://media.example:443/img/1.jpg" hi']
    got = {(s, p, o, i) for _, s, p, o, i in oracle_triples(base)}
    t0 = V.turn_uri(base.iloc[0]["conv_id"], 0)
    assert (t0, V.P_ASSOCIATED_MEDIA, "https://media.example/img/1.jpg", True) in got
    # the retype + canonicalization emits the sameAs alias edge
    assert ("https://media.example:443/img/1.jpg",
            "http://www.w3.org/2002/07/owl#sameAs",
            "https://media.example/img/1.jpg", True) in got


def test_canonicalize_col_parity_adversarial(spark):
    """Column form ≡ python form on adversarial inputs — guards against
    engine/oracle divergence of the kind the anchored-scheme-strip bug
    showed (embedded URLs, escapes, ports, doubles, unicode)."""
    from pyspark.sql import functions as F

    from glean_cetaf_rdfs_spark.functions.uri import (
        canonicalize_col,
        canonicalize_py,
        match_keys_py,
        url_domain_col,
        url_domain_py,
    )
    from glean_cetaf_rdfs_spark.operators.link import _candidate_keys

    urls = [
        "http://a.example/r?to=http://b.example/x",      # embedded URL
        "https://a.example:443/p?x=1&amp;y=2",           # port + &amp;
        "http://dup.example/r/9http://dup.example/r/9",  # doubled
        "http://dup.example/r/9http://dup.example/r/8",  # NOT doubled
        "https://m.wikidata.org/wiki/Q5",
        "http://viaf.org/viaf/123/#frag",
        "http://d.example/a b/c^d`e\\f[g]h",             # illegal chars
        "http://x.example:8080/a/b/c/d/e",               # deep path, odd port
        "http://tun.example/a?format=X",                 # technical
        "http://üml.example/p",                     # unicode host
        "http://a.example/x?a=1&amp;amp;b=2",            # doubly escaped &
        "http://dup.example/r/9" * 4,                    # 4x repeat
    ]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    got = df.select(
        "u",
        canonicalize_col(F.col("u")).alias("canon"),
        url_domain_col(F.col("u")).alias("dom"),
        F.filter(F.array(*_candidate_keys(F.col("u"))),
                 lambda k: k.isNotNull()).alias("keys"),
    ).collect()
    for r in got:
        assert r["canon"] == canonicalize_py(r["u"]), r["u"]
        assert r["dom"] == url_domain_py(r["u"]), r["u"]
        assert list(r["keys"]) == match_keys_py(r["u"]), r["u"]


def test_canonicalize_col_parity_property(spark):
    """Property-based engine↔oracle parity: hypothesis-generated URL-ish
    strings (schemes, ports, escapes, doubles, unicode, illegal chars)
    must canonicalize identically in the Column form and the pure-Python
    form — the single-source-of-truth invariant the golden suite relies
    on, exercised beyond the fixture distribution."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from glean_cetaf_rdfs_spark.functions.uri import canonicalize_col, canonicalize_py

    host = st.sampled_from(["a.example", "viaf.org", "www.wikidata.org",
                            "m.wikidata.org", "ipni.example", "üml.example"])
    port = st.sampled_from(["", ":80", ":443", ":8080"])
    path = st.text(alphabet="ab/ ^`\\[]&;=Q123%.", min_size=0, max_size=24)
    scheme = st.sampled_from(["http", "https"])
    url = st.builds(lambda s, h, p, t: f"{s}://{h}{p}/{t}", scheme, host, port, path)
    doubled = url.map(lambda u: u + u)
    cases = st.lists(st.one_of(url, doubled, st.just("")), min_size=1, max_size=24)

    @settings(max_examples=20, deadline=None)
    @given(cases)
    def check(urls):
        df = spark.createDataFrame([(u,) for u in urls], "u string")
        got = df.select("u", canonicalize_col(F.col("u")).alias("c")).collect()
        for r in got:
            assert r["c"] == canonicalize_py(r["u"]), repr(r["u"])

    check()


def test_skeleton_column_matches_turn_skeleton_triples(spark):
    """The Catalyst skeleton (operators/extract.skeleton_triples) equals
    ``turn_skeleton_triples`` row by row, as an exact multiset, on
    adversarial keys, tools, roles and timestamps: URI-hostile conv_ids
    (one makes the conv URI a doubled URL), ``if tool:`` falsy tools,
    an empty role, null role and ts (no row), tz-naive and tz-aware
    instants, sub-second truncation before and after 1970, and the
    turn_idx extremes."""
    import datetime as dt
    from collections import Counter

    from glean_cetaf_rdfs_spark.data import vocab as V
    from glean_cetaf_rdfs_spark.data.synthetic import TRANSCRIPT_SCHEMA
    from glean_cetaf_rdfs_spark.functions.extraction_rules import (
        turn_skeleton_triples,
    )
    from glean_cetaf_rdfs_spark.operators.extract import skeleton_triples
    from glean_cetaf_rdfs_spark.session import local_frame

    utc = dt.timezone.utc
    conv_ids = ["a b", "x[1", "c&amp;d", "q?format=json", V.conv_uri("d")]
    tools = [None, "", "a b"]
    roles = ["user", "", None]
    stamps = [
        dt.datetime(2024, 1, 1, 10, 20, 30),                       # tz-naive UTC
        dt.datetime(2024, 1, 1, 10, 20, 30, tzinfo=dt.timezone(dt.timedelta(hours=5))),
        dt.datetime(2024, 6, 30, 23, 59, 59, 999999, tzinfo=utc),  # truncated
        dt.datetime(1969, 12, 31, 23, 59, 59, 500000),             # pre-1970
        dt.datetime(1901, 3, 4, 5, 6, 7, 250000, tzinfo=utc),
        None,
    ]
    keys = [(c, i) for c in conv_ids for i in (0, 2**31 - 1, 7)]
    rows = [(cid, idx, roles[k // 3 % 3], "text", tools[k % 3], stamps[k % 6])
            for k, (cid, idx) in enumerate(keys)]
    # pyarrow 16 reads a tz-aware datetime's wall clock and drops a
    # non-UTC offset, so the Spark input gets the same instants in UTC
    spark_rows = [r[:5] + (r[5].astimezone(utc) if r[5] and r[5].tzinfo else r[5],)
                  for r in rows]
    got = Counter(tuple(r) for r in skeleton_triples(
        local_frame(spark, spark_rows, TRANSCRIPT_SCHEMA))
        .select("subj", "pred", "obj", "obj_is_iri").collect())
    want = Counter(t for cid, idx, role, _, tool, ts in rows
                   for t in turn_skeleton_triples(cid, idx, role, tool, ts))
    assert got == want
    # 4 rows a turn, less 3 null roles and 2 null ts, plus 5 "a b" tools
    assert sum(want.values()) == 4 * len(rows) - 3 - 2 + 5
    assert "1969-12-31T23:59:59Z" in {o for _, _, o, _ in want}


def test_generator_fixture_hash_frozen():
    """Drift guard for the synthetic-transcript fixture: the generator's
    byte stream IS the contract (frozen q32 oracle VALUES, golden tests,
    and the scaling legs all assume it). Round 6 replaced rng.choice with
    the state-identical _pick indexing form; this hash pins every column
    of the first 300 conversations so any future edit that shifts the
    RNG call sequence (or formatting) fails loudly here instead of as an
    oracle mismatch."""
    import hashlib

    from glean_cetaf_rdfs_spark.data.synthetic import transcripts_pdf

    pdf = transcripts_pdf(300)
    h = hashlib.md5()
    for c in pdf.columns:
        h.update("\x01".join(map(str, pdf[c].tolist())).encode())
    assert len(pdf) == 4313
    assert h.hexdigest() == "38dffb56ff9a7a3d98e72bdc5039f893"


def test_canonicalize_per_character_parity(spark):
    """Column/Python parity of the percent-encoding rules on one fixture
    per encoded character (derived from CANON_RULES itself, so a new
    rule automatically gets a fixture), plus clean and multi-dirty
    URLs. (Round 6 briefly ran this tail behind an rlike guard; the
    guard was REVERTED after in-situ measurement — see the
    canonicalize_col docstring — but the per-character fixtures keep
    their value.)"""
    import re

    from pyspark.sql import functions as F

    from glean_cetaf_rdfs_spark.functions.uri import (
        CANON_RULES, canonicalize_col, canonicalize_py)

    chars = []
    for pat, repl in CANON_RULES:
        if repl.startswith("%"):            # the single-char encoding rules
            ch = re.sub(r"\\(.)", r"\1", pat)
            assert len(ch) == 1, f"non-single-char encoding rule: {pat!r}"
            chars.append(ch)
    assert len(chars) == 8
    fixtures = [f"http://g.example/a{ch}b" for ch in chars]
    fixtures += ["http://clean.example/ok", "https://x.example:443/p q"]
    df = spark.createDataFrame([(u,) for u in fixtures], "u string")
    got = [r["c"] for r in
           df.select(canonicalize_col(F.col("u")).alias("c")).collect()]
    want = [canonicalize_py(u) for u in fixtures]
    assert got == want


def test_canonicalize_alias_rules_parity(spark):
    """Column/Python parity fixtures for every alias rule firing, plus
    lookalikes that resemble a rule's trigger but must not rewrite
    (:8080, embedded wikidata/viaf substrings). Written for the round-6
    guard experiment; kept after its revert as plain rule coverage."""
    from pyspark.sql import functions as F

    from glean_cetaf_rdfs_spark.functions.uri import (
        canonicalize_col, canonicalize_py)

    fixtures = [
        "https://pi.herbaria.example:443/spec/1",     # port strip fires
        "http://pi.herbaria.example:80/spec/2",
        "http://x.example:8080/p",                    # guard yes, regex no
        "http://x.example/p:80x",                     # ditto (not a port)
        "https://m.wikidata.org/wiki/Q7",             # wikidata alias
        "http://notwikidata.org/wiki/Q7",             # guard no
        "http://x.example/see?u=wikidata.org/wiki/Q1",  # guard yes, regex no
        "https://ipni.example/id/5",                  # scheme canon fires
        "https://other.example/id/5",                 # guard yes, regex no
        "http://viaf.org/viaf/123456/#entity",        # viaf strip fires
        "http://viaf.org/viaf/123456",                # no trailing path
        "http://x.example/ref=viaf.org/xyz",          # guard yes, regex no
        "http://clean.example/nothing",
    ]
    df = spark.createDataFrame([(u,) for u in fixtures], "u string")
    got = [r["c"] for r in
           df.select(canonicalize_col(F.col("u")).alias("c")).collect()]
    want = [canonicalize_py(u) for u in fixtures]
    assert got == want


def test_is_technical_contains_matches_regex():
    """The two-contains form of the P5 technical-URL flag must agree with
    the documented TECHNICAL_URL regex on every fixture shape."""
    import re

    from glean_cetaf_rdfs_spark.operators.canonicalize import TECHNICAL_URL

    cases = ["http://t.example/s?format=TTL", "http://t.example/s&format=X",
             "http://t.example/sformat=X", "http://t.example/format=",
             "http://t.example/s?fmt=TTL", "http://t.example/plain"]
    for u in cases:
        assert (("?format=" in u) or ("&format=" in u)) == \
            bool(re.search(TECHNICAL_URL, u)), u
