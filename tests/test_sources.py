"""Source/sink operator tests (SURVEY.md §2.1)."""

from __future__ import annotations

from glean_cetaf_rdfs_spark.sources.readers import (
    gate_well_formed,
    read_transcripts,
    read_uri_list,
)
from glean_cetaf_rdfs_spark.operators.materialize import write_graph_table
from glean_cetaf_rdfs_spark.sources.sinks import write_ntriples_text


def test_read_uri_list(spark, tmp_path):
    p = tmp_path / "urilist.txt"
    p.write_text(
        "# comment line\n"
        "http://a.example/1\tInstA\tPlantae\r\n"
        "https://b.example/2 more words\n"
        "not a uri\n"
        "  http://c.example/3\n"
        "\n")
    got = [r["uri"] for r in read_uri_list(spark, str(p)).orderBy("uri").collect()]
    assert got == ["http://a.example/1", "http://c.example/3", "https://b.example/2"]


def test_gate_well_formed(spark):
    rows = [("c1", 0, "user", "hi", None, None),
            (None, 1, "user", "x", None, None),
            ("c1", -2, "user", "x", None, None),
            ("c1", 2, "user", None, None, None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    ok, bad = gate_well_formed(df)
    assert ok.count() == 1 and bad.count() == 3


def test_transcript_reader_roundtrip(spark, tiny_df, tmp_path):
    path = str(tmp_path / "t.parquet")
    tiny_df.write.parquet(path)
    back = read_transcripts(spark, path)
    assert back.schema["turn_idx"].dataType.typeName() == "integer"
    assert back.count() == tiny_df.count()


def test_ntriples_text_sink(spark, tmp_path):
    triples = spark.createDataFrame(
        [("http://s/1", "http://p", "http://o", True),
         ("http://s/1", "http://p", 'say "hi" \\ there', False)],
        "subj string, pred string, obj string, obj_is_iri boolean")
    out = str(tmp_path / "nt")
    write_ntriples_text(triples, out)
    lines = sorted(r["value"] for r in spark.read.text(out).collect())
    assert lines[0] == '<http://s/1> <http://p> "say \\"hi\\" \\\\ there" .'
    assert lines[1] == "<http://s/1> <http://p> <http://o> ."


def test_partitioned_shard_sink(spark, tmp_path):
    df = spark.createDataFrame([("g1", i) for i in range(10)] + [("g2", 1)],
                               "graph string, x int")
    out = str(tmp_path / "shards")
    write_graph_table(df, out, max_records_per_file=3)
    back = spark.read.parquet(out)
    assert back.count() == 11
    assert {r["graph"] for r in back.select("graph").distinct().collect()} == {"g1", "g2"}
    # maxRecordsPerFile: 10 rows at most 3 per file → at least 4 files
    assert len(list((tmp_path / "shards" / "graph=g1").glob("*.parquet"))) >= 4


def test_trig_subject_grouped_sink(spark, tmp_path):
    from glean_cetaf_rdfs_spark.sources.sinks import write_trig_text

    triples = spark.createDataFrame(
        [("http://g1", "http://s/1", "http://p/a", "http://o", True),
         ("http://g1", "http://s/1", "http://p/b", "lit", False),
         ("http://g1", "http://s/2", "http://p/a", "http://o2", True),
         ("http://g2", "http://s/3", "http://p/a", "http://o3", True)],
        "graph string, subj string, pred string, obj string, obj_is_iri boolean")
    out = str(tmp_path / "trig")
    write_trig_text(triples, out)
    back = spark.read.text(out + "/graph=http%3A%2F%2Fg1") \
        if False else spark.read.option("basePath", out).text(out)
    blocks = sorted("".join(r["value"] for r in back.collect()).split(" ."))
    # s/1's two predicates share ONE block, ';'-separated, sorted
    joined = [b for b in blocks if "s/1" in b]
    assert len(joined) == 1
    assert '<http://p/a> <http://o> ;' in joined[0]
    assert '<http://p/b> "lit"' in joined[0]


def test_ntriples_literal_control_char_escapes(spark, tmp_path):
    """Literals containing newline/CR/tab must serialize with the
    N-Triples escape set — a raw newline would break the line-oriented
    sink and any downstream parser (one triple per line, parseable)."""
    triples = spark.createDataFrame(
        [("s1", "p1", 'line1\nline2\tx\r"q"\\z', False),
         ("s2", "p2", "http://o.example/ok", True)],
        "subj string, pred string, obj string, obj_is_iri boolean")
    out = str(tmp_path / "nt")
    write_ntriples_text(triples, out)
    lines = [r["value"] for r in spark.read.text(out).collect()]
    assert len(lines) == 2  # no line got split by a raw newline
    lit = next(ln for ln in lines if ln.startswith("<s1>"))
    assert '"line1\\nline2\\tx\\r\\"q\\"\\\\z"' in lit
    for raw in ("\n", "\r", "\t"):
        assert raw not in lit


def test_jdbc_source_roundtrip_embedded_derby(spark, tmp_path):
    """S7 — the JDBC URI source executed for real against embedded Derby
    (shipped in Spark's jars for the Hive metastore): write a URI table
    through Spark's JDBC sink, read it back through read_jdbc_uri_list
    with a pushdown predicate."""
    import pytest

    from glean_cetaf_rdfs_spark.sources.readers import read_jdbc_uri_list

    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.createDataFrame(
        [(1, "https://a.example/occ/1", "INST-A"),
         (2, "https://b.example/occ/2", "INST-B"),
         (3, "https://a.example/occ/3", "INST-A")],
        "id int, occurrence_id string, inst string")
    try:
        (src.write.format("jdbc").option("url", url)
         .option("dbtable", "cetaf_ids")
         .options(**props).mode("overwrite").save())
    except Exception as e:  # noqa: BLE001 — driver genuinely absent
        pytest.skip(f"embedded Derby unavailable: {type(e).__name__}")
    got = read_jdbc_uri_list(spark, url, "cetaf_ids",
                             predicate="inst LIKE 'INST-A%'", **props)
    rows = sorted(r["occurrence_id"] for r in got.collect())
    assert rows == ["https://a.example/occ/1", "https://a.example/occ/3"]
