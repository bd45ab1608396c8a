"""End-to-end KG-construction plan: transcripts → graph table.

One DataFrame DAG replacing the reference's 5 shell stages and their 8
filesystem round-trips (master_RDF_fix-validate-normalize.sh:178-201):

    scan transcripts
      → extract (mapInPandas, narrow)
      → canonicalize (codegen'd regexp chain, narrow)
      → link entities (broadcast dict join; 2 small shuffles)
      → enrich (generated rows, unions)
      → finalize (dedupe shuffle) → write partitionBy(graph)

plus the owl:sameAs alias edges feeding connected-components for the
entity→canonical map (written alongside the graph table).
"""

from __future__ import annotations

import atexit
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from ..operators.canonicalize import (
    annotate_canonical,
    canonicalize_triples,
    split_canonical,
)
from ..operators.cc import connected_components
from ..operators.enrich import enrich_triples
from ..operators.extract import extract_triples
from ..operators.link import event_entities, link_entities
from ..operators.materialize import finalize_triples


_BUILD_SEQ = iter(range(1, 1 << 31))
_PRIOR_BUILDS: dict[str, list[str]] = {}


def _stage_scratch(spark: SparkSession, temp_dir: str | None,
                   name: str = "kg_canon") -> str:
    """App-scoped scratch path for the canonicalized stage table, with a
    per-build subdir (process-wide counter): a second build in the same
    session gets a fresh directory instead of overwriting the one an
    earlier build's still-unconsumed DataFrame lazily reads (the round-2
    fixed-path scheme silently swapped data under it; concurrent builds
    clobbered each other).

    Usage is BOUNDED at two subdirs per base (current + immediately
    previous): older builds are deleted when a new one starts — scratch
    is RAM-backed (/dev/shm) and an N-run bench would otherwise hold N
    multi-GB stage copies. The previous build stays readable, which
    covers the one-outstanding-DataFrame pattern; anything older is
    assumed consumed. Everything is removed at interpreter exit."""
    seq = next(_BUILD_SEQ)
    if temp_dir is not None:
        base = f"{temp_dir}/{name}_{spark.sparkContext.applicationId}"
        atexit.register(shutil.rmtree, base, ignore_errors=True)
    else:
        from ..session import app_scratch_path

        base = app_scratch_path(spark, name)
    prior = _PRIOR_BUILDS.setdefault(base, [])
    for old in prior[:-1]:  # keep only the most recent prior build
        shutil.rmtree(old, ignore_errors=True)
    del prior[:-1]
    path = f"{base}/b{seq}"
    prior.append(path)
    return path


def build_triples(transcripts: DataFrame, dict_df: DataFrame | None = None,
                  intermediate: str = "parquet",
                  temp_dir: str | None = None,
                  metrics: dict | None = None) -> DataFrame:
    """Plan for the final deduped (graph, subj, pred, obj, obj_is_iri).

    The extraction output fans out to ~8 consumers (canonical stream,
    sameAs edges, linking, event flags, wikidata/viaf flags). How the
    fan-out point is materialized matters:

    * ``intermediate="parquet"`` (default): write the canonicalize-
      annotated triple stage (raw + obj_canon) to scratch storage and
      read it back — the pandas extraction AND the 12-rule regexp chain
      each run exactly once, and every branch scans columnar files in
      parallel. This is also the cluster-scale pattern (stage tables
      between pipeline phases). Measured alternatives: BlockManager
      ``persist`` serializes under 32-thread contention (2.5x wall), and
      no materialization re-runs extraction + regexps per branch (the
      regexp chain re-execution was the top CPU sink: 2.2k CPU-seconds
      at 310k-turn scale).
    * ``intermediate="persist"``: Dataset cache (MEMORY_AND_DISK).
    * ``intermediate="none"``: fully lazy — recomputed per branch.

    Scratch retention (parquet mode): the process keeps only the CURRENT
    and the IMMEDIATELY PREVIOUS build's stage directories — starting a
    third build deletes the oldest, so a DataFrame returned by a build
    two-or-more calls back raises FileNotFoundException at action time.
    Consume (or ``persist``) results before starting multiple newer
    builds, or pass a per-build ``temp_dir`` to opt out of the shared
    rotation.
    """
    annotated = annotate_canonical(extract_triples(transcripts))
    if metrics is not None:
        # validation-gate accounting (validateRDFs.sh:177-205 warn/error
        # tallies): counters ride the existing write action via an
        # Observation — no extra pass over the data. Populated once the
        # stage materializes (parquet mode: below; else: first action).
        import uuid

        is_p4 = ~F.col("obj_is_iri") & (F.col("obj") == "")
        obs = Observation(f"canon_{uuid.uuid4().hex}")
        annotated = annotated.observe(
            obs,
            F.count(F.lit(1)).alias("n_in"),
            F.sum(F.when(is_p4, 1).otherwise(0)).alias("n_p4"),
            F.sum(F.when(F.col("is_technical"), 1).otherwise(0)).alias("n_p5"),
        )
        metrics["canon"] = obs
    if intermediate == "persist":
        from pyspark.storagelevel import StorageLevel

        annotated = annotated.persist(StorageLevel.MEMORY_AND_DISK)
    elif intermediate == "parquet":
        import os

        spark = transcripts.sparkSession
        path = _stage_scratch(spark, temp_dir)
        if os.environ.get("SPARK_GRAFT_STAGE_SECT", "1") != "0":
            from ..operators.canonicalize import stage_section_col

            (annotated.withColumn("sect", stage_section_col())
             .write.mode("overwrite").partitionBy("sect").parquet(path))
        else:
            annotated.write.mode("overwrite").parquet(path)
        annotated = spark.read.parquet(path)
    canonical, sameas = split_canonical(annotated)
    spo = canonical.select("subj", "pred", "obj", "obj_is_iri")
    if "sect" in annotated.columns:
        # partition-pruned branch inputs: the entity branches (linking,
        # event flags, enrichment mentions) read only sect='m'; the
        # sameAs branch reads sect∈{'m','a'} (rows in 'o' cannot emit
        # alias edges by construction of stage_section_col)
        ent_canonical, _ = split_canonical(annotated.filter(F.col("sect") == "m"))
        ent_spo = ent_canonical.select("subj", "pred", "obj", "obj_is_iri")
        _, sameas = split_canonical(annotated.filter(F.col("sect") != "o"))
    else:
        ent_spo = spo
    links = link_entities(ent_spo, dict_df)
    events = event_entities(ent_spo)
    generated = enrich_triples(ent_spo, links, events)
    all_triples = (spo
                   .unionByName(sameas.select("subj", "pred", "obj", "obj_is_iri"))
                   .unionByName(generated))
    if metrics is not None:
        import uuid

        obs_pre = Observation(f"prefinal_{uuid.uuid4().hex}")
        all_triples = all_triples.observe(obs_pre, F.count(F.lit(1)).alias("n"))
        metrics["pre_final"] = obs_pre
    return finalize_triples(all_triples)


def build_canonical_map(transcripts: DataFrame) -> DataFrame:
    """Alias-resolution map via connected components over the owl:sameAs
    edge set: (member, canonical)."""
    raw = extract_triples(transcripts)
    _, sameas = canonicalize_triples(raw)
    edges = sameas.select("subj", "obj").toDF("src", "dst")
    return connected_components(edges)


def run_pipeline(spark: SparkSession, transcripts: DataFrame, out_path: str,
                 dict_df: DataFrame | None = None,
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
    import uuid

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
    final = build_triples(transcripts, dict_df, metrics=metrics)
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
