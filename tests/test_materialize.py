"""The dedupe exchange (operators/materialize.finalize_triples): one
shuffle, hashed on a placement key that keeps every external graph in one
task, with the same surviving rows as a (subj, pred, obj) dedupe; and the
graph-table file layout that placement gives."""

from __future__ import annotations

import os
import re
from collections import Counter
from urllib.parse import unquote

from pyspark.sql import functions as F

from glean_cetaf_rdfs_spark.data import vocab as V
from glean_cetaf_rdfs_spark.operators.materialize import (
    FINAL_COLS,
    assign_graph,
    finalize_triples,
)
from glean_cetaf_rdfs_spark.plans.pipeline import run_pipeline

SPO_DDL = "subj string, pred string, obj string, obj_is_iri boolean"
OWN = f"http://{V.TRANSCRIPT_HOST}"


def _adversarial_partitions() -> list[list[tuple]]:
    """Four input partitions: own-namespace turn subjects, scheme and port
    variants of one external host, a look-alike of the transcript host,
    and exact duplicates placed in different partitions."""
    parts: list[list[tuple]] = [[], [], [], []]
    for i in range(48):
        turn = f"{OWN}/conv/c{i % 6}/turn/{i}"
        parts[i % 4].append((turn, V.P_ROLE, "user", False))
        parts[(i + 1) % 4].append((turn, V.RDF_TYPE, V.O_TURN_TYPE, True))
    for j, subj in enumerate(["http://ext.example/a", "https://ext.example/a",
                              "http://ext.example:8080/a", "https://ext.example:8080/b"]):
        for p in range(4):
            parts[p].append((subj, V.P_INSTITUTION_ID, f"http://ror.example/{j}", True))
    for k in range(12):
        parts[k % 4].append((f"{OWN}.evil/x{k}", V.P_MENTIONS, f"{OWN}/conv/c0", True))
    for h in range(8):
        parts[h % 4].append((f"http://host{h}.example/s", V.P_PUBLISHER, "lit", False))
    return parts


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_finalize_one_exchange_same_rows_graphs_whole(spark):
    rows = [r for part in _adversarial_partitions() for r in part]
    df = spark.sparkContext.parallelize(_adversarial_partitions(), 4) \
        .flatMap(lambda part: part).toDF(SPO_DDL)
    assert df.rdd.getNumPartitions() == 4

    got = finalize_triples(df)
    got_rows = got.collect()
    want_rows = assign_graph(df.dropDuplicates(["subj", "pred", "obj"])) \
        .select(*FINAL_COLS).collect()
    assert len(got_rows) == len(want_rows) < len(rows)
    assert Counter(map(tuple, got_rows)) == Counter(map(tuple, want_rows))
    assert len(re.findall(r"\bExchange\b", _final_plan(got))) == 1

    # every graph but the transcript host's lands whole in one task
    tasks = (got.withColumn("task", F.spark_partition_id())
             .groupBy("graph").agg(F.countDistinct("task").alias("n")).collect())
    split = {r["graph"]: r["n"] for r in tasks if r["n"] > 1}
    assert set(split) <= {OWN}, split
    assert {r["graph"] for r in tasks} >= {"http://ext.example", f"{OWN}.evil"}


def test_graph_table_one_file_per_external_graph(spark, tiny_df, tmp_path):
    out = tmp_path / "graph_table"
    run_pipeline(spark, tiny_df, str(out))
    n_tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # partition directories are path-escaped: graph=http%3A%2F%2F<host>
    files = {unquote(d): sum(f.endswith(".parquet") for f in os.listdir(out / d))
             for d in os.listdir(out) if d.startswith("graph=")}
    assert 1 <= files.pop(f"graph={OWN}") <= n_tasks
    assert len(files) > 1
    assert all(n == 1 for n in files.values()), files
