"""Driver-held rows reach the JVM as local relations: every DataFrame
the engine builds from a Python list must execute as a
``LocalTableScan``, never as a parallelized ``PythonRDD``
(``Scan ExistingRDD``) that runs a Python-worker job per action."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from glean_cetaf_rdfs_spark.data.dictionary import entity_dictionary_df
from glean_cetaf_rdfs_spark.operators.cc import connected_components
from glean_cetaf_rdfs_spark.operators.sampling import sample_stratified
from glean_cetaf_rdfs_spark.streaming import checkpoint as CK


def _assert_local(df) -> None:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def test_entity_dictionary_is_local(spark):
    d = entity_dictionary_df(spark)
    _assert_local(d)
    assert d.filter(F.col("canonical_id").isNull()).count() == 1
    assert d.schema["add_conforms_to"].dataType.typeName() == "boolean"


def test_lineage_batch_is_local(spark, tmp_path, monkeypatch):
    frames, real = [], CK.local_frame

    def spy(*args):
        frames.append(real(*args))
        return frames[-1]

    monkeypatch.setattr(CK, "local_frame", spy)
    CK.append_lineage(spark, str(tmp_path / "lin"), "r",
                      [("a", "all", 3, 2, 1), ("b", "all", 2, 2, 0)])
    (batch,) = frames
    _assert_local(batch)


def test_cc_small_graph_map_is_local(spark):
    edges = spark.range(6).selectExpr("cast(id as string) AS src",
                                      "cast(id + 1 as string) AS dst")
    comp = connected_components(edges)
    _assert_local(comp)
    assert {r["canonical"] for r in comp.collect()} == {"0"}


def test_sampling_rates_table_is_local(spark):
    docs = spark.range(200).selectExpr(
        "id AS doc_id", "IF(id % 2 = 0, 'a', 'b') AS source")
    kept = sample_stratified(docs, "doc_id", "source", {"a": 1000, "b": 0})
    _assert_local(kept)
    assert kept.count() == 100


def test_empty_state_frames_are_local(spark, tmp_path):
    ckpt = CK.read_checkpoint(spark, str(tmp_path / "missing"))
    _assert_local(ckpt)
    assert ckpt.count() == 0
    assert ckpt.schema == StructType.fromDDL(CK.CKPT_SCHEMA)


def test_local_frame_reads_naive_datetimes_as_utc(spark):
    import datetime as dt

    from glean_cetaf_rdfs_spark.session import local_frame

    naive = dt.datetime(2024, 3, 1, 12, 0, 0)
    aware = naive.replace(tzinfo=dt.timezone.utc)
    # the same instant written in two non-UTC zones keeps its instant
    east = aware.astimezone(dt.timezone(dt.timedelta(hours=5)))
    west = aware.astimezone(dt.timezone(dt.timedelta(hours=-8)))
    df = local_frame(spark, [(naive,), (aware,), (east,), (west,)],
                     "t timestamp")
    epochs = [r[0] for r in df.select(F.unix_timestamp("t")).collect()]
    assert epochs == [int(aware.timestamp())] * 4
