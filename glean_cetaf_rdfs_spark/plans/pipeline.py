"""End-to-end KG-construction plan: transcripts → graph table.

One DataFrame DAG replacing the reference's 5 shell stages and their 8
filesystem round-trips (master_RDF_fix-validate-normalize.sh:178-201):

    scan transcripts
      → extract (narrow): text-derived rows from mapInPandas over
        (conv_id, turn_idx, text) ∪ per-turn skeleton rows from
        Catalyst expressions
      → canonicalize (codegen'd regexp chain, narrow)
      → link entities (broadcast dict join; 2 small shuffles)
      → enrich (generated rows, unions)
      → finalize (dedupe shuffle) → write partitionBy(graph)
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from ..operators.canonicalize import (
    annotate_canonical,
    split_canonical,
    stage_section_col,
)
from ..operators.enrich import enrich_triples
from ..operators.extract import extract_triples
from ..operators.link import event_entities, link_entities
from ..operators.materialize import finalize_triples
from ..session import stage_scratch_path


def build_triples(transcripts: DataFrame,
                  metrics: dict | None = None) -> DataFrame:
    """Plan for the final deduped (graph, subj, pred, obj, obj_is_iri).

    The extraction output fans out to ~8 consumers (canonical stream,
    sameAs edges, linking, event flags, wikidata/viaf flags), so the
    canonicalize-annotated triple stage (raw + obj_canon) is written
    once to scratch, partitioned by ``stage_section_col``, and read
    back: the pandas extraction and the 12-rule regexp chain each run
    exactly once, and every branch scans columnar files in parallel.
    Both measured alternatives were slower: ``persist`` serialized under
    32-thread contention (2.5x wall), and a lazy plan re-ran extraction
    and the regexp chain per branch (BENCH.md round 1).

    The stage directory comes from ``session.stage_scratch_path``: only
    the current and the immediately previous build's stage are kept, so
    a DataFrame returned by a build two or more calls back raises
    FileNotFoundException at action time. Consume (or ``persist``)
    results before starting two newer builds.
    """
    annotated = annotate_canonical(extract_triples(transcripts))
    if metrics is not None:
        # validation-gate accounting (validateRDFs.sh:177-205 warn/error
        # tallies): counters ride the stage-table write via an
        # Observation — no extra pass over the data.
        is_p4 = ~F.col("obj_is_iri") & (F.col("obj") == "")
        obs = Observation(f"canon_{uuid.uuid4().hex}")
        annotated = annotated.observe(
            obs,
            F.count(F.lit(1)).alias("n_in"),
            F.sum(F.when(is_p4, 1).otherwise(0)).alias("n_p4"),
            F.sum(F.when(F.col("is_technical"), 1).otherwise(0)).alias("n_p5"),
        )
        metrics["canon"] = obs
    spark = transcripts.sparkSession
    path = stage_scratch_path(spark, "kg_canon")
    (annotated.withColumn("sect", stage_section_col())
     .write.mode("overwrite").partitionBy("sect").parquet(path))
    annotated = spark.read.parquet(path)
    spo = split_canonical(annotated)[0].select("subj", "pred", "obj", "obj_is_iri")
    # partition-pruned branch inputs: the entity branches (linking, event
    # flags, enrichment mentions) read only sect='m'; the sameAs branch
    # reads sect∈{'m','a'} (rows in 'o' cannot emit alias edges by
    # construction of stage_section_col)
    ent_canonical, _ = split_canonical(annotated.filter(F.col("sect") == "m"))
    ent_spo = ent_canonical.select("subj", "pred", "obj", "obj_is_iri")
    _, sameas = split_canonical(annotated.filter(F.col("sect") != "o"))
    links = link_entities(ent_spo)
    events = event_entities(ent_spo)
    generated = enrich_triples(ent_spo, links, events)
    all_triples = (spo
                   .unionByName(sameas.select("subj", "pred", "obj", "obj_is_iri"))
                   .unionByName(generated))
    if metrics is not None:
        obs_pre = Observation(f"prefinal_{uuid.uuid4().hex}")
        all_triples = all_triples.observe(obs_pre, F.count(F.lit(1)).alias("n"))
        metrics["pre_final"] = obs_pre
    return finalize_triples(all_triples)


def run_pipeline(spark: SparkSession, transcripts: DataFrame, out_path: str,
                 lineage_path: str | None = None,
                 run_id: str = "batch",
                 quarantine_path: str | None = None) -> DataFrame:
    """Build + write the graph table; when ``lineage_path`` is given,
    append the per-stage accounting rows every production run of the
    reference produces (validateRDFs.sh:187-205): input-gate quarantine
    counts, extraction row counts, P4/P5 drop counts, and materialized
    output count.

    The S4 input gate (sources.readers.gate_well_formed — the
    reference's MIME check, fixRDF…:287,319-334) runs FIRST: rows
    violating the input contract (null keys, negative turn_idx, null
    text) are split off, optionally written to ``quarantine_path``, and
    counted to lineage — never fed to extraction, never fatal."""
    from ..operators.materialize import write_graph_table
    from ..sources.readers import gate_well_formed

    transcripts, quarantined = gate_well_formed(transcripts)
    n_bad = 0
    if quarantine_path is not None:
        quarantined.write.mode("overwrite").parquet(quarantine_path)
        n_bad = spark.read.parquet(quarantine_path).count()  # footer-only
    elif lineage_path is not None:
        n_bad = quarantined.count()  # pushed-down filter scan of the source

    metrics: dict | None = {} if lineage_path is not None else None
    if lineage_path is not None:
        # passed-turn count rides the stage-table write inside
        # build_triples (no extra scan — same pattern as the P4/P5
        # counters)
        obs_gate = Observation(f"gate_{uuid.uuid4().hex}")
        transcripts = transcripts.observe(obs_gate,
                                          F.count(F.lit(1)).alias("n"))
    final = build_triples(transcripts, metrics=metrics)
    if lineage_path is not None:
        obs_final = Observation(f"final_{uuid.uuid4().hex}")
        final = final.observe(obs_final, F.count(F.lit(1)).alias("n"))
    write_graph_table(final, out_path)
    if lineage_path is not None:
        from ..streaming.checkpoint import append_lineage

        canon = metrics["canon"].get
        n_in, n_p4, n_p5 = int(canon["n_in"]), int(canon["n_p4"]), int(canon["n_p5"])
        # gate: rows_in = turns seen, rows_out = turns passed (observed on
        # the stage-table write — no extra scan). Written even on a clean
        # run (rows_dropped=0) so lineage consumers can tell "gate ran,
        # zero quarantined" from "gate absent", as the reference's
        # validateRDFs tally emits a row regardless of the count.
        n_ok = int(obs_gate.get["n"])
        # materialize's true input is the pre-dedupe union (canonical +
        # sameAs + generated rows — observed on the same write action);
        # dropped = in − out keeps rows_in == rows_out + rows_dropped
        n_mat_in = int(metrics["pre_final"].get["n"])
        n_final = int(obs_final.get["n"])
        append_lineage(spark, lineage_path, run_id, [
            ("gate", "all", n_ok + n_bad, n_ok, n_bad),
            ("extract_canonicalize", "all", n_in, n_in - n_p4 - n_p5, n_p4 + n_p5),
            ("materialize", "all", n_mat_in, n_final, n_mat_in - n_final),
        ])
    return spark.read.parquet(out_path)
