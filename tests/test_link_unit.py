"""Targeted linking-semantics tests: longest-prefix priority, publisher-only
entries, two-keys-one-id, conditional literal rules — the reference's
dictionary edge cases (SURVEY.md Appendix A) exercised directly."""

from __future__ import annotations

from glean_cetaf_rdfs_spark.data import vocab as V
from glean_cetaf_rdfs_spark.operators.link import link_entities


def _mention_triples(spark, urls_by_turn):
    rows = []
    for turn, urls in urls_by_turn.items():
        for u in urls:
            rows.append((turn, V.P_MENTIONS, u, True))
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean")


def test_longest_prefix_wins(spark):
    """lagu.../object is path-scoped (JACQ.sh:614-630): /object hits the
    path rule (with publisher), other paths fall to nothing (lagu has no
    domain_prefix rule)."""
    t = _mention_triples(spark, {
        "t1": ["http://lagu.herbaria.example/object/123"],
        "t2": ["http://lagu.herbaria.example/other/99"],
        "t3": ["http://id.snsb.example/snsb/55", "http://id.snsb.example/collections/7"],
    })
    links = {r["entity"]: r for r in link_entities(t).collect()}
    assert links["http://lagu.herbaria.example/object/123"]["publisher"] \
        == "http://botanico.example.sv"
    assert "http://lagu.herbaria.example/other/99" not in links
    # SNSB: one institution, two path spellings → same id
    a = links["http://id.snsb.example/snsb/55"]["canonical_id"]
    b = links["http://id.snsb.example/collections/7"]["canonical_id"]
    assert a == b == "https://ror.org/05th1v540"


def test_publisher_only_entry_has_no_canonical_id(spark):
    t = _mention_triples(spark, {"t1": ["http://willing.herbaria.example/spec/1"]})
    row = link_entities(t).collect()[0]
    assert row["canonical_id"] is None
    assert row["publisher"] == "http://willing-botanik.example"
    assert row["add_conforms_to"] is False


def test_two_domains_one_id(spark):
    t = _mention_triples(spark, {
        "t1": ["http://pi.herbaria.example/spec/1"],
        "t2": ["http://piagr.herbaria.example/spec/2"],
    })
    ids = {r["canonical_id"] for r in link_entities(t).collect()}
    assert ids == {"https://ror.org/03ad39j10"}


def test_literal_cond_requires_sibling_code(spark):
    from glean_cetaf_rdfs_spark.functions.extraction_rules import P_COLLECTION_CODE
    rows = [
        ("t1", V.P_MENTIONS, "http://tun.example/specimen/1", True),
        ("t1", P_COLLECTION_CODE, "TUR-A", False),
        ("t2", V.P_MENTIONS, "http://tun.example/specimen/2", True),  # no code
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string, obj_is_iri boolean")
    links = {r["entity"]: r["canonical_id"] for r in link_entities(t).collect()}
    assert links == {"http://tun.example/specimen/1": "https://ror.org/029pk6x14"}
