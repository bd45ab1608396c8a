"""Checkpoint / lineage table + resumable runner.

The reference resumes interrupted harvests with a sorted done-list diffed
against the new URI list (``comm -13`` — doc/JACQ/JACQ-import-to-
GRAPH_20220815.md:60-89) and tracks per-stage progress in side-channel
logs. The engine's equivalent is a checkpoint table (FIXTURES.md §5):

    (run_id, stage, partition_key, rows_in, rows_out, rows_dropped,
     status, updated_ts)

and a resumable runner that shards the conversation keyspace into hash
buckets, processes each bucket through the full pipeline, writes the
output under ``bucket=K`` and appends a ``done`` row. Resume = left-anti
join of buckets against the done set — a re-run after a crash re-executes
only unfinished buckets, and re-running a finished job is a no-op
(idempotence). Per-stage row counters come from ``Observation`` hooks on
the single write action (no extra passes over the data).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from ..data import vocab as V
from ..operators.link import event_entities
from ..operators.materialize import finalize_triples, write_graph_table
from ..plans.pipeline import build_triples
from ..session import local_frame

CKPT_SCHEMA = ("run_id string, stage string, partition_key string, "
               "rows_in long, rows_out long, rows_dropped long, "
               "status string, updated_ts timestamp")


def bucket_of(conv_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_buckets))


def read_checkpoint(spark: SparkSession, ckpt_path: str) -> DataFrame:
    if os.path.exists(ckpt_path):
        return spark.read.parquet(ckpt_path)
    return local_frame(spark, [], CKPT_SCHEMA)


def append_lineage(spark: SparkSession, ckpt_path: str, run_id: str,
                   rows: list[tuple[str, str, int, int, int]]) -> None:
    """Append a run's finished stages — ``(stage, partition_key,
    rows_in, rows_out, rows_dropped)`` each — as ``done`` rows stamped
    with the current UTC time, in one single-file write."""
    now = dt.datetime.now(dt.timezone.utc)
    (local_frame(spark, [(run_id, *r, "done", now) for r in rows], CKPT_SCHEMA)
     .coalesce(1).write.mode("append").parquet(ckpt_path))


def done_buckets(spark: SparkSession, ckpt_path: str, run_id: str) -> set[int]:
    ckpt = read_checkpoint(spark, ckpt_path)
    rows = (ckpt.filter((F.col("run_id") == run_id) & (F.col("status") == "done")
                        & (F.col("stage") == "materialize"))
            .select("partition_key").distinct().collect())
    return {int(r["partition_key"]) for r in rows}


def run_resumable(spark: SparkSession, transcripts: DataFrame, out_path: str,
                  ckpt_path: str, run_id: str, n_buckets: int = 8,
                  fail_after_bucket: int | None = None) -> None:
    """Process transcripts bucket-by-bucket with checkpointing.

    ``fail_after_bucket`` is a test hook that raises after K buckets
    complete, simulating a mid-run crash for the resume tests.

    Entity-level enrichment is computed within a bucket (all turns of a
    conversation share a bucket, so per-turn semantics are exact; the
    reference similarly enriches per shard file). The final table is read
    with ``spark.read.parquet(out_path)`` — bucket subdirs are unified by
    partition discovery.

    The unified read is NOT the one-shot output until
    :func:`compact_buckets` has run once after all buckets are done:

    * entity-level triples for an entity mentioned in several buckets
      are physically duplicated across ``bucket=K`` partitions, and
    * the G2 retraction (no ``dcterms:conformsTo <CSPP>`` for an entity
      any Event-typed turn mentions) only sees the bucket's own Event
      turns, so an entity that an Event turn mentions in one bucket and
      a plain turn mentions in another keeps an extra ``conformsTo`` row.
    """
    done = done_buckets(spark, ckpt_path, run_id)
    completed = 0
    for b in range(n_buckets):
        if b in done:
            continue
        part = transcripts.filter(bucket_of(F.col("conv_id"), n_buckets) == b)
        m: dict = {}
        final = build_triples(part, metrics=m)
        obs_out = Observation(f"out_{run_id}_{b}")
        final = final.observe(obs_out, F.count(F.lit(1)).alias("n"))
        write_graph_table(final, f"{out_path}/bucket={b}")
        # same units as run_pipeline's materialize row: the pre-dedupe
        # union in, the bucket's written triples out, dedupe losses dropped
        pre_final = int(m["pre_final"].get["n"])
        n_out = int(obs_out.get["n"])
        append_lineage(spark, ckpt_path, run_id, [
            ("materialize", str(b), pre_final, n_out, pre_final - n_out)])
        completed += 1
        if fail_after_bucket is not None and completed >= fail_after_bucket:
            raise RuntimeError(f"injected failure after bucket {b}")


def compact_buckets(spark: SparkSession, bucketed_path: str,
                    final_path: str) -> DataFrame:
    """Cross-bucket compaction: one global (subj, pred, obj) dedupe over
    the unified bucketed output, rewritten as a flat graph table —
    restores the one-shot path's row-uniqueness invariant (entity-level
    enrichment triples can be physically duplicated across ``bucket=K``
    partitions).

    It also applies the G2 retraction globally: the unified output holds
    every canonical ``schema:mentions`` row and every ``rdf:type Event``
    row, so :func:`event_entities` over it is the one-shot event set,
    and ``(e, conformsTo, CSPP)`` rows for those entities are dropped.

    The dedupe goes through :func:`finalize_triples`, the one-shot
    path's exchange: the stored ``graph`` column is DROPPED before it
    and re-derived from ``subj`` on the survivors (the same
    deterministic host-prefix expression that produced it at
    bucket-write time, so the output is bit-identical), and the
    exchange's subject-derived placement key keeps each external graph
    in one task, so the flat table gets one file per external graph."""
    bucketed = (spark.read.parquet(bucketed_path)
                .select("subj", "pred", "obj", "obj_is_iri"))
    retracted = event_entities(bucketed).select(
        F.col("entity").alias("subj"), F.lit(V.P_CONFORMS_TO).alias("pred"),
        F.lit(V.O_CSPP).alias("obj"))
    unified = finalize_triples(
        bucketed.join(retracted, ["subj", "pred", "obj"], "left_anti"))
    write_graph_table(unified, final_path)
    return spark.read.parquet(final_path)
