"""Materialization: graph assignment, dedupe, partitioned write.

Mirrors the reference's import stage (named GRAPH per domain —
README.md:52-60, import_rdf2trig.gz4docker-fuseki-app.sh:281) and its
duplicate-removal (JACQ.sh:441): ``graph`` is the subject's host, the
final table is ``dropDuplicates(graph, subj, pred, obj)`` written
``partitionBy("graph")``.

Scale notes: the dedupe is the pipeline's one unavoidable wide shuffle —
it hashes on (subj, pred, obj), so hot graphs don't skew it.
``maxRecordsPerFile`` bounds output file size (the reference's
patternsplit.awk 50 MB chunking, never splitting inside a record — a
row-oriented guarantee Spark gives for free)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.uri import url_domain_col

FINAL_COLS = ["graph", "subj", "pred", "obj", "obj_is_iri"]


def assign_graph(triples: DataFrame) -> DataFrame:
    return triples.withColumn(
        "graph", F.concat(F.lit("http://"), url_domain_col(F.col("subj")))
    )


def finalize_triples(triples: DataFrame) -> DataFrame:
    """(subj,pred,obj,obj_is_iri)* → deduped (graph,subj,pred,obj,obj_is_iri).

    ``graph`` is a pure function of ``subj`` (host prefix), so the
    dedupe keys on (subj, pred, obj) alone and the graph column is
    derived AFTER the exchange (round 6): the pipeline's one wide
    shuffle carries one fewer string column (~25 bytes/row — a quarter
    of its payload at 60M triples) and the domain-extraction
    expressions run on the deduped survivors instead of the full
    pre-dedupe union. Identical row set: (subj,pred,obj) duplicates
    and (graph,subj,pred,obj) duplicates are the same partition of the
    union because graph adds no distinguishing information."""
    deduped = (triples.select("subj", "pred", "obj", "obj_is_iri")
               .dropDuplicates(["subj", "pred", "obj"]))
    return assign_graph(deduped).select(*FINAL_COLS)


def write_graph_table(final: DataFrame, path: str, mode: str = "overwrite",
                      max_records_per_file: int = 1_000_000) -> None:
    (final.write.mode(mode)
     .option("maxRecordsPerFile", max_records_per_file)
     .partitionBy("graph")
     .parquet(path))
