"""Text sink operators (SURVEY.md §2.1 S6, S8).

The reference appends per-worker shard files, posts TriG chunks to a
Fuseki named graph, and tees logs/errors to side files. The columnar
named-graph sink is ``operators.materialize.write_graph_table``
(patternsplit.awk's 50 MB record-boundary chunking →
``maxRecordsPerFile``), and the lineage table
(``streaming.checkpoint.append_lineage``) replaces the log files. This
module holds the N-Triples and TriG text serializations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_ntriples_text(triples: DataFrame, path: str,
                        mode: str = "overwrite") -> None:
    """Serialize (subj, pred, obj, obj_is_iri) to N-Triples lines — the
    reference's interchange format (rdfparse output, JACQ.sh:369-370) —
    as a text sink (gzip via codec). Literal objects get the N-Triples
    string escape set; IRIs are angle-bracketed."""
    from pyspark.sql import functions as F

    line = F.concat(F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"),
                    F.lit("> "), _serialized_obj(), F.lit(" ."))
    (triples.select(line.alias("value"))
     .write.mode(mode).option("compression", "gzip").text(path))


def _serialized_obj():
    """IRI → ``<iri>``; literal → quoted with the N-Triples string escape
    set (\\ " \\n \\r \\t) — an unescaped raw newline/CR/tab would break
    the line-oriented text sinks and any downstream TriG/N-Triples
    parser."""
    from pyspark.sql import functions as F

    lit = F.col("obj")
    for raw, esc in ((r"\\", r"\\\\"), ('"', r'\\"')):
        lit = F.regexp_replace(lit, raw, esc)
    for raw, esc in (("\n", r"\n"), ("\r", r"\r"), ("\t", r"\t")):
        lit = F.replace(lit, F.lit(raw), F.lit(esc))
    return F.when(
        F.col("obj_is_iri"), F.concat(F.lit("<"), F.col("obj"), F.lit(">"))
    ).otherwise(F.concat(F.lit('"'), lit, F.lit('"')))


def write_trig_text(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6 — subject-grouped TriG-style serialization (the reference's
    ``turtle --output=trig`` step, convertRDF4import_normal-files_
    JACQ.sh:403): all predicates of one subject in a single
    ``<subj> <pred> obj ; <pred> obj .`` block. One ``groupBy(graph,
    subj)`` with a sorted collect (deterministic block content), written
    as text partitioned by graph — the per-domain TriG chunk layout the
    import stage posts per named graph (import_rdf2trig…sh:281; the
    graph IRI rides the directory name)."""
    from pyspark.sql import functions as F

    po = F.concat(F.lit("<"), F.col("pred"), F.lit("> "), _serialized_obj())
    grouped = (triples.groupBy("graph", "subj")
               .agg(F.array_sort(F.collect_list(po)).alias("pos")))
    block = F.concat(F.lit("<"), F.col("subj"), F.lit("> "),
                     F.array_join("pos", " ;\n  "), F.lit(" ."))
    (grouped.select("graph", block.alias("value"))
     .write.mode(mode).partitionBy("graph").text(path))
