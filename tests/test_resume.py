"""Resume/idempotence tests (FIXTURES.md §5): a mid-run crash resumes
without re-doing finished buckets, and the final table equals the
one-shot run; re-running a finished job changes nothing — the engine's
version of the reference's done-list anti-join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glean_cetaf_rdfs_spark.oracle import oracle_triples
from glean_cetaf_rdfs_spark.streaming.checkpoint import (
    compact_buckets,
    done_buckets,
    read_checkpoint,
    run_resumable,
)
from glean_cetaf_rdfs_spark.plans.pipeline import build_triples


def _triple_set(spark, path):
    df = spark.read.parquet(path)
    return {tuple(r) for r in df.select("graph", "subj", "pred", "obj", "obj_is_iri").collect()}


def test_crash_resume_equals_oneshot(spark, tiny_df, tmp_path):
    out = str(tmp_path / "graph_table")
    ckpt = str(tmp_path / "ckpt")

    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, tiny_df, out, ckpt, run_id="r1", n_buckets=4,
                      fail_after_bucket=2)
    assert len(done_buckets(spark, ckpt, "r1")) == 2

    run_resumable(spark, tiny_df, out, ckpt, run_id="r1", n_buckets=4)
    assert len(done_buckets(spark, ckpt, "r1")) == 4

    resumed = _triple_set(spark, out)

    # one-shot, no bucketing: same per-conversation triples; entity-level
    # enrichment rows may be emitted in several buckets but set-compare
    # collapses them
    oneshot = {tuple(r) for r in build_triples(tiny_df)
               .select("graph", "subj", "pred", "obj", "obj_is_iri").collect()}
    assert resumed == oneshot


@pytest.mark.parametrize("k", [1, 2, 3])
def test_resume_at_every_bucket_boundary_then_compact(spark, tiny_df, tiny_pdf,
                                                      tmp_path, k):
    out = str(tmp_path / "graph_table")
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, tiny_df, out, ckpt, run_id="rk", n_buckets=4,
                      fail_after_bucket=k)
    assert len(done_buckets(spark, ckpt, "rk")) == k
    run_resumable(spark, tiny_df, out, ckpt, run_id="rk", n_buckets=4)
    assert len(done_buckets(spark, ckpt, "rk")) == 4

    compacted = compact_buckets(spark, out, str(tmp_path / "compacted"))
    rows = compacted.select("graph", "subj", "pred", "obj", "obj_is_iri").collect()
    assert len(rows) == len({tuple(r) for r in rows})
    assert {tuple(r) for r in rows} == oracle_triples(tiny_pdf)


def test_rerun_is_noop(spark, tiny_df, tmp_path):
    out = str(tmp_path / "graph_table")
    ckpt = str(tmp_path / "ckpt")
    run_resumable(spark, tiny_df, out, ckpt, run_id="r2", n_buckets=2)
    first = _triple_set(spark, out)
    n_ckpt = read_checkpoint(spark, ckpt).count()
    run_resumable(spark, tiny_df, out, ckpt, run_id="r2", n_buckets=2)
    assert _triple_set(spark, out) == first
    assert read_checkpoint(spark, ckpt).count() == n_ckpt  # no new rows


def test_lineage_counters_recorded(spark, tiny_df, tmp_path):
    out = str(tmp_path / "graph_table")
    ckpt = str(tmp_path / "ckpt")
    run_resumable(spark, tiny_df, out, ckpt, run_id="r3", n_buckets=2)
    rows = read_checkpoint(spark, ckpt).filter(F.col("run_id") == "r3").collect()
    assert len(rows) == 2
    # materialize rows count triples on both sides, as run_pipeline's do
    assert all(r["rows_in"] == r["rows_out"] + r["rows_dropped"] for r in rows)
    assert sum(r["rows_out"] for r in rows) == spark.read.parquet(out).count()
    assert all(r["rows_out"] > 0 and r["status"] == "done" for r in rows)
