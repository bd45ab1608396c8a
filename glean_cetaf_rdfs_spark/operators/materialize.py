"""Materialization: graph assignment, dedupe, partitioned write.

Mirrors the reference's import stage (named GRAPH per domain —
README.md:52-60, import_rdf2trig.gz4docker-fuseki-app.sh:281) and its
duplicate-removal (JACQ.sh:441): ``graph`` is the subject's host, the
final table is deduped on (subj, pred, obj) — ``graph`` is a function of
``subj`` — and written ``partitionBy("graph")``.

Scale notes: the dedupe is the pipeline's one unavoidable wide shuffle.
It is hashed on a placement key computed from ``subj`` (see
:func:`finalize_triples`): the engine's own transcript graph, which grows
with the turn count, is spread over every task by subject, and each
external graph lands whole in one task, so the partitioned write opens
one file per external graph instead of one per (task, graph). The
trade-off: the external-host rows are spread over at most as many tasks
as there are external hosts, and the largest external graph sets the
longest of those tasks. ``maxRecordsPerFile`` bounds output file size
(the reference's patternsplit.awk 50 MB chunking, never splitting inside
a record — a row-oriented guarantee Spark gives for free)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..data import vocab as V
from ..functions.uri import url_domain_col

FINAL_COLS = ["graph", "subj", "pred", "obj", "obj_is_iri"]


def assign_graph(triples: DataFrame) -> DataFrame:
    return triples.withColumn(
        "graph", F.concat(F.lit("http://"), url_domain_col(F.col("subj")))
    )


def placement_key_col(subj: Column) -> Column:
    """32-bit shuffle placement key: ``hash(subj)`` for the engine's own
    ``http://{TRANSCRIPT_HOST}/`` subjects, ``hash(host)`` for every
    other subject."""
    own = subj.startswith(f"http://{V.TRANSCRIPT_HOST}/")
    return F.hash(F.when(own, subj).otherwise(url_domain_col(subj)))


def finalize_triples(triples: DataFrame) -> DataFrame:
    """(subj,pred,obj,obj_is_iri)* → deduped (graph,subj,pred,obj,obj_is_iri).

    One exchange, hashed on :func:`placement_key_col` — the transcript
    graph (most rows, growing with the turn count) spread over all tasks
    by subject, each external graph whole in one task — and the dedupe
    on (key, subj, pred, obj) runs inside it. The key is a function of
    ``subj``, so the surviving row set is that of a (subj, pred, obj)
    dedupe. ``graph`` is a pure function of ``subj`` too and is derived
    AFTER the exchange, on the survivors, so the shuffle carries a 4-byte
    key instead of the graph string.

    A reduce task writes one file per graph it holds, so a (subj, pred,
    obj) hash wrote one file per (task, graph). The cost of co-location:
    parallelism for external-host rows is bounded by the number of
    external hosts. The key stays 32-bit (a 64-bit ``xxhash64`` key
    measurably raised shuffle scratch) and the placement is a plain hash
    (a range partitioner's sampling pass costs more than it saves at
    scale)."""
    deduped = (triples.select("subj", "pred", "obj", "obj_is_iri")
               .withColumn("key", placement_key_col(F.col("subj")))
               .repartition("key")
               .dropDuplicates(["key", "subj", "pred", "obj"])
               .drop("key"))
    return assign_graph(deduped).select(*FINAL_COLS)


def write_graph_table(final: DataFrame, path: str,
                      max_records_per_file: int = 1_000_000) -> None:
    (final.write.mode("overwrite")
     .option("maxRecordsPerFile", max_records_per_file)
     .partitionBy("graph")
     .parquet(path))
