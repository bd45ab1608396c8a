"""Source/sink operator tests (SURVEY.md §2.1)."""

from __future__ import annotations

from glean_cetaf_rdfs_spark.operators.materialize import write_graph_table
from glean_cetaf_rdfs_spark.sources.readers import gate_well_formed, read_transcripts


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
