"""glean_cetaf_rdfs_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference pipeline ``infinite-dao/glean-cetaf-rdfs`` (shell/sed/awk/perl +
Apache Jena), re-expressed Spark-first.

Reference (read-only, /root/reference): a 5-stage RDF harvest→fix→validate→
normalize→import pipeline for CETAF specimen URIs. This engine replaces it
with one DataFrame DAG over multi-turn transcript tables:

    transcripts → extraction (Arrow mapInPandas) → URI canonicalization
    (vectorized exprs, sameAs alias edges) → entity linking (broadcast
    dictionary, longest-prefix and conditional-literal rules)
    → per-subject enrichment → dedupe → partitioned (graph)
    materialization,

with a checkpoint/lineage table for idempotent resume (mirrors the
reference's done-list anti-join, doc/JACQ/JACQ-import-to-GRAPH_20220815.md).

Everything here derives from public knowledge only: the Apache Spark API
and the reference repo's observable behavior.
"""

__version__ = "0.1.0"
