"""The traced run: the KG pipeline recomposed layer by layer.

Each layer's public function is called on the previous layer's output,
which is materialized as parquet in the run's scratch directory, so a
layer's span covers that layer's work alone. Every span runs under a
Spark job group named after it (the event log ties stages to layers) and
records wall time, process-tree CPU and JVM GC time. Spans stay in
memory until the run writes them out.

The composition mirrors ``plans.pipeline.build_triples``: gate, extract,
annotate, stage table partitioned by ``stage_section_col``, linking and
event flags over the ``sect='m'`` rows, enrichment, then the dedupe and
the graph-table write over canonical + sameAs + generated rows.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time
from contextlib import contextmanager

import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

import hostenv
from eventlog import MB

SPO = ["subj", "pred", "obj", "obj_is_iri"]


class Tracer:
    """Nested spans (name, parent, start, end, cpu_s, gc_s) kept in memory."""

    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1e3

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.time(),
               "cpu0": hostenv.tree_cpu_s(self.jvm_pid), "gc0": self.gc_s()}
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["cpu_s"] = hostenv.tree_cpu_s(self.jvm_pid) - rec.pop("cpu0")
            rec["gc_s"] = self.gc_s() - rec.pop("gc0")
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(parent, parent)
            self.spans.append(rec)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def self_of(self, name: str, key: str) -> float:
        """A span's wall (key="wall") or cpu/gc minus what its children took."""
        def val(s):
            return s["end"] - s["start"] if key == "wall" else s[key]
        kids = [s for s in self.spans if s["parent"] == name]
        return val(self.get(name)) - sum(val(k) for k in kids)


def _rows(path: str, expr=None) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows(filter=expr)


def _files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def traced_pipeline(spark, tr: Tracer, input_path: str, work: str,
                    out_path: str) -> dict[str, float]:
    """Layers 1-7 over ``input_path``; the graph table lands at
    ``out_path``. Returns the layer counts measured at the boundaries."""
    from glean_cetaf_rdfs_spark.data import vocab as V
    from glean_cetaf_rdfs_spark.operators.canonicalize import (
        annotate_canonical, split_canonical, stage_section_col)
    from glean_cetaf_rdfs_spark.operators.enrich import enrich_triples
    from glean_cetaf_rdfs_spark.operators.extract import extract_triples
    from glean_cetaf_rdfs_spark.operators.link import event_entities, link_entities
    from glean_cetaf_rdfs_spark.operators.materialize import (
        finalize_triples, write_graph_table)
    from glean_cetaf_rdfs_spark.sources.readers import gate_well_formed, read_transcripts

    p = {k: f"{work}/{k}" for k in ("gated", "quarantine", "extracted", "annotated",
                                     "stage", "links", "events", "generated", "deduped")}
    read = spark.read.parquet

    with tr.span("readers"):
        ok, bad = gate_well_formed(read_transcripts(spark, input_path))
        _write(ok, p["gated"])
        _write(bad, p["quarantine"])
    with tr.span("extract"):
        _write(extract_triples(read(p["gated"])), p["extracted"])
    with tr.span("canonicalize"):
        _write(annotate_canonical(read(p["extracted"])), p["annotated"])
    with tr.span("stage"):
        with tr.span("stage.write"):
            (read(p["annotated"]).withColumn("sect", stage_section_col())
             .write.mode("overwrite").partitionBy("sect").parquet(p["stage"]))
        with tr.span("stage.read"):
            read(p["stage"]).write.format("noop").mode("overwrite").save()

    stage = read(p["stage"])
    ent_spo = split_canonical(stage.filter(F.col("sect") == "m"))[0].select(*SPO)
    with tr.span("link"):
        _write(link_entities(ent_spo), p["links"])
        with tr.span("link.events"):
            _write(event_entities(ent_spo), p["events"])
    with tr.span("enrich"):
        _write(enrich_triples(ent_spo, read(p["links"]), read(p["events"])),
               p["generated"])
    spo = split_canonical(stage)[0].select(*SPO)
    sameas = split_canonical(stage.filter(F.col("sect") != "o"))[1].select(*SPO)
    union = spo.unionByName(sameas).unionByName(read(p["generated"]))
    with tr.span("materialize"):
        with tr.span("materialize.dedupe"):
            _write(finalize_triples(union), p["deduped"])
        with tr.span("materialize.write"):
            write_graph_table(read(p["deduped"]), out_path)

    # boundary counts, from parquet footers and pyarrow filters
    turns = _rows(p["gated"])
    kept = (pc.field("obj_is_iri") | (pc.field("obj") != "")) & ~pc.field("is_technical")
    alias = (pc.field("obj_is_iri") & (pc.field("obj") != pc.field("obj_canon"))
             & ~pc.field("is_technical"))
    annotated = _rows(p["annotated"])
    canonical, n_sameas = _rows(p["annotated"], kept), _rows(p["annotated"], alias)
    mentions = _rows(p["stage"], (pc.field("sect") == "m")
                     & (pc.field("pred") == V.P_MENTIONS) & kept)
    links, generated = _rows(p["links"]), _rows(p["generated"])
    mat_in, mat_out = canonical + n_sameas + generated, _rows(out_path)
    return {
        "readers.rows_in": turns + _rows(p["quarantine"]),
        "readers.rows_quarantined": _rows(p["quarantine"]),
        "extract.rows_out": annotated,
        "extract.rows_per_turn": annotated / max(1, turns),
        "canonicalize.rows_dropped": annotated - canonical,
        "canonicalize.sameas_rows": n_sameas,
        "stage.mb": hostenv.dir_bytes(p["stage"]) / MB,
        "stage.entity_fraction": _rows(p["stage"], pc.field("sect") == "m") / max(1, annotated),
        "link.mentions_in": mentions,
        "link.links_out": links,
        "link.hit_ratio": links / max(1, mentions),
        "enrich.rows_out": generated,
        "materialize.rows_in": mat_in,
        "materialize.rows_out": mat_out,
        "materialize.keep_ratio": mat_out / max(1, mat_in),
        "materialize.mb_out": hostenv.dir_bytes(out_path) / MB,
        "materialize.files_out": _files(out_path),
    }


def traced_checkpoint(spark, tr: Tracer, input_path: str, work: str,
                      n_buckets: int) -> dict[str, float]:
    """``run_resumable`` over all buckets, ``compact_buckets``, then a
    re-run of the finished job (must be a no-op). Per-bucket times are
    the gaps between consecutive lineage rows' ``updated_ts``."""
    from glean_cetaf_rdfs_spark.sources.readers import read_transcripts
    from glean_cetaf_rdfs_spark.streaming.checkpoint import (
        compact_buckets, run_resumable)

    bucketed, ckpt, compacted = (f"{work}/bucketed", f"{work}/ckpt",
                                 f"{work}/compacted")
    with tr.span("checkpoint"):
        with tr.span("checkpoint.buckets") as buckets_span:
            run_resumable(spark, read_transcripts(spark, input_path), bucketed,
                          ckpt, "bench", n_buckets=n_buckets)
        with tr.span("checkpoint.compact"):
            compact_buckets(spark, bucketed, compacted)
        n_lineage = _rows(ckpt)
        with tr.span("checkpoint.rerun"):
            run_resumable(spark, read_transcripts(spark, input_path), bucketed,
                          ckpt, "bench", n_buckets=n_buckets)

    stamps = sorted(ds.dataset(ckpt, format="parquet").to_table()
                    .column("updated_ts").to_pylist())
    start = dt.datetime.fromtimestamp(buckets_span["start"], dt.timezone.utc)
    edges = [start] + [s if s.tzinfo else s.replace(tzinfo=dt.timezone.utc) for s in stamps]
    per_bucket = [(b - a).total_seconds() for a, b in zip(edges, edges[1:])]
    if len(per_bucket) != n_buckets or n_lineage != n_buckets or min(per_bucket) < 0:
        raise RuntimeError(f"checkpoint lineage is inconsistent: {n_lineage} rows "
                           f"for {n_buckets} buckets, gaps {per_bucket}")
    return {
        "checkpoint.bucket_p50_s": statistics.median(per_bucket),
        "checkpoint.bucket_max_s": max(per_bucket),
        "checkpoint.lineage_files": _files(ckpt),
        "checkpoint.dup_rows": _rows(bucketed) - _rows(compacted),
    }
