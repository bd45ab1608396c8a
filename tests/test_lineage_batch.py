"""Batch-path lineage accounting (validateRDFs.sh:187-205 analog),
app-scoped scratch boundedness and cross-bucket compaction."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from glean_cetaf_rdfs_spark.plans.pipeline import build_triples, run_pipeline
from glean_cetaf_rdfs_spark.session import (
    _scratch_dir,
    app_scratch_path,
    stage_scratch_path,
)
from glean_cetaf_rdfs_spark.streaming.checkpoint import compact_buckets, run_resumable


def test_batch_lineage_rows_and_scratch_bounded(spark, tiny_df, tmp_path):
    out, ck = str(tmp_path / "graph"), str(tmp_path / "lineage")
    final = run_pipeline(spark, tiny_df, out, lineage_path=ck, run_id="t1")
    rows = {r["stage"]: r for r in spark.read.parquet(ck).collect()}
    # gate row is written even on a clean run (rows_dropped=0) so
    # consumers can tell "gate ran, zero quarantined" from "gate absent"
    assert set(rows) == {"gate", "extract_canonicalize", "materialize"}
    g = rows["gate"]
    assert g["rows_dropped"] == 0 and g["rows_in"] == g["rows_out"]
    ec = rows["extract_canonicalize"]
    assert ec["rows_in"] == ec["rows_out"] + ec["rows_dropped"]
    assert ec["rows_dropped"] > 0  # fixture always has P4/P5 drops
    mat = rows["materialize"]
    assert mat["rows_out"] == final.count()
    # the accounting invariant holds for EVERY stage row: materialize's
    # input is the observed pre-dedupe union, dropped = dedupe losses
    assert mat["rows_in"] == mat["rows_out"] + mat["rows_dropped"]
    assert mat["rows_dropped"] >= 0
    # scratch stays bounded: one app-scoped dir, reused across runs
    appid = spark.sparkContext.applicationId
    run_pipeline(spark, tiny_df, out, lineage_path=ck, run_id="t2")
    mine = [d for d in glob.glob(_scratch_dir() + "/kg_canon_*") if appid in d]
    assert len(mine) == 1


def test_build_scratch_rotation_keeps_current_and_previous(spark):
    """A third build of one stage name deletes the oldest build's
    directory and keeps the previous one readable; every build lives
    under the name's one app-scoped base, and each name rotates on its
    own."""
    kg_base = app_scratch_path(spark, "kg_canon")
    kg = []
    for _ in range(3):
        kg.append(stage_scratch_path(spark, "kg_canon"))
        os.makedirs(kg[-1])  # what a build's stage write leaves
    assert not os.path.exists(kg[0])
    assert os.path.isdir(kg[1]) and os.path.isdir(kg[2])
    assert {os.path.dirname(p) for p in kg} == {kg_base}
    cur = stage_scratch_path(spark, "curation")
    assert os.path.dirname(cur) == app_scratch_path(spark, "curation") != kg_base
    assert os.path.isdir(kg[1])  # another name's build rotates nothing here


def test_compact_buckets_restores_uniqueness(spark, tiny_df, tmp_path):
    out, ck = str(tmp_path / "bkt"), str(tmp_path / "ck")
    run_resumable(spark, tiny_df, out, ck, run_id="c1", n_buckets=4)
    compacted = compact_buckets(spark, out, str(tmp_path / "flat"))
    one_shot = build_triples(tiny_df)
    cols = ["graph", "subj", "pred", "obj", "obj_is_iri"]
    assert compacted.count() == compacted.dropDuplicates(cols[:4]).count()
    got = {tuple(r) for r in compacted.select(*cols).collect()}
    want = {tuple(r) for r in one_shot.select(*cols).collect()}
    assert got == want
    assert compacted.count() == len(want)  # row-unique, not just set-equal


def test_compact_buckets_applies_g2_across_buckets(spark, tmp_path):
    """G2 is one-shot: an Event turn in one bucket retracts the CSPP
    ``conformsTo`` row that a plain turn's mention of the same entity
    in another bucket generates. Per bucket the retraction cannot see
    the other bucket's Event turn; compaction must apply it."""
    import datetime as dt

    import pandas as pd

    from glean_cetaf_rdfs_spark.data import vocab as V
    from glean_cetaf_rdfs_spark.oracle import oracle_triples
    from glean_cetaf_rdfs_spark.streaming.checkpoint import bucket_of

    n_buckets = 2
    ids = spark.createDataFrame([(f"conv-{i}",) for i in range(16)], "conv_id string")
    bucket = dict(ids.select("conv_id", bucket_of(F.col("conv_id"), n_buckets))
                  .collect())
    ev_conv = next(c for c, b in bucket.items() if b == 0)
    plain_conv = next(c for c, b in bucket.items() if b == 1)
    url = "https://boz.herbaria.example/specimen/7"
    ts = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        [(ev_conv, 0, "user", f"eventtype=Event at {url}", None, ts),
         (plain_conv, 0, "user", f"see {url}", None, ts)],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df = spark.createDataFrame(pdf, "conv_id string, turn_idx int, role string, "
                                    "text string, tool string, ts timestamp")
    out = str(tmp_path / "bkt")
    run_resumable(spark, df, out, str(tmp_path / "ck"), run_id="g2", n_buckets=n_buckets)
    conforms = (F.col("subj") == url) & (F.col("pred") == V.P_CONFORMS_TO)
    assert spark.read.parquet(out).filter(conforms).count() == 1  # plain bucket's
    compacted = compact_buckets(spark, out, str(tmp_path / "flat"))
    cols = ["graph", "subj", "pred", "obj", "obj_is_iri"]
    got = {tuple(r) for r in compacted.select(*cols).collect()}
    want = oracle_triples(pdf)
    assert (f"http://{url.split('/')[2]}", url, V.P_INSTITUTION_ID,
            "https://ror.org/01h1jbk91", True) in want  # the mention links
    assert got == want


def test_run_pipeline_gates_malformed_input(spark, tiny_df, tmp_path):
    """Malformed transcript rows (null text, negative turn_idx) must be
    quarantined — written aside, counted to lineage with the stage
    invariant — and the triple output must equal a run over the clean
    subset alone (malformed rows never reach extraction)."""
    import datetime as dt

    bad = spark.createDataFrame([
        ("bad-1", 0, "user", None, None, dt.datetime(2024, 1, 1)),
        ("bad-2", -3, "user", "x", None, dt.datetime(2024, 1, 1)),
    ], schema=tiny_df.schema)
    mixed = tiny_df.unionByName(bad)
    out, ck = str(tmp_path / "g"), str(tmp_path / "lin")
    quar = str(tmp_path / "quarantine")
    final = run_pipeline(spark, mixed, out, lineage_path=ck, run_id="gate1",
                         quarantine_path=quar)
    clean = run_pipeline(spark, tiny_df, str(tmp_path / "g2"))
    cols = ["graph", "subj", "pred", "obj", "obj_is_iri"]
    assert ({tuple(r) for r in final.select(*cols).collect()}
            == {tuple(r) for r in clean.select(*cols).collect()})
    assert spark.read.parquet(quar).count() == 2
    rows = {r["stage"]: r for r in spark.read.parquet(ck).collect()}
    g = rows["gate"]
    assert g["rows_dropped"] == 2
    assert g["rows_in"] == g["rows_out"] + g["rows_dropped"]


def _data_files(path: str) -> int:
    return len(glob.glob(f"{path}/*.parquet"))


def test_one_lineage_write_per_run(spark, tiny_df, tmp_path):
    """Each run appends its stage rows in ONE write (one data file), and
    ``updated_ts`` reads back as the current UTC time through both
    pyarrow and Spark (the tz-aware → Arrow path)."""
    import datetime as dt

    import pyarrow.dataset as ds

    from glean_cetaf_rdfs_spark.plans.curation import run_curation

    ck = str(tmp_path / "lineage")
    for n in (1, 2):
        run_pipeline(spark, tiny_df, str(tmp_path / "g"), lineage_path=ck,
                     run_id=f"p{n}")
        assert _data_files(ck) == n
    assert spark.read.parquet(ck).count() == 6

    docs = spark.createDataFrame(
        [(1, "s0", "alpha beta gamma delta epsilon zeta eta"),
         (2, "s0", "alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, source string, text string")
    run_curation(spark, docs, str(tmp_path / "corpus"), lineage_path=ck)
    assert _data_files(ck) == 3
    assert spark.read.parquet(ck).filter(F.col("run_id") == "curate").count() == 4

    now = dt.datetime.now(dt.timezone.utc)
    for ts in ds.dataset(ck, format="parquet").to_table().column("updated_ts").to_pylist():
        ts = ts if ts.tzinfo else ts.replace(tzinfo=dt.timezone.utc)
        assert abs((now - ts).total_seconds()) < 120
    lag = (spark.read.parquet(ck)
           .agg(F.max(F.abs(F.unix_timestamp(F.current_timestamp())
                            - F.unix_timestamp("updated_ts")))).first()[0])
    assert lag < 120


def test_resumable_lineage_one_row_per_bucket(spark, tiny_df, tmp_path):
    ck = str(tmp_path / "ck")
    run_resumable(spark, tiny_df, str(tmp_path / "bkt"), ck, run_id="b1",
                  n_buckets=3)
    rows = spark.read.parquet(ck).collect()
    assert sorted(r["partition_key"] for r in rows) == ["0", "1", "2"]
    assert {r["stage"] for r in rows} == {"materialize"}
    assert _data_files(ck) == 3


def test_gate_counted_once(spark, tiny_df, tmp_path):
    """Extraction scans the gated turns twice (the text UDF and the
    skeleton branch); the gate row still counts each turn once, with
    and without a quarantine path, and per bucket of ``run_resumable``
    a ``run_pipeline`` over that bucket's turns gates exactly its turns
    and writes the resumable bucket's ``materialize`` row."""
    from glean_cetaf_rdfs_spark.streaming.checkpoint import bucket_of

    def gate_and_mat(df, name, **kw):
        ck = str(tmp_path / f"lin_{name}")
        run_pipeline(spark, df, str(tmp_path / f"g_{name}"), lineage_path=ck, **kw)
        rows = {r["stage"]: r for r in spark.read.parquet(ck).collect()}
        return rows["gate"], rows["materialize"]

    n_turns = tiny_df.count()
    for kw in ({}, {"quarantine_path": str(tmp_path / "quar")}):
        gate, _ = gate_and_mat(tiny_df, str(len(kw)), **kw)
        assert (gate["rows_in"], gate["rows_out"]) == (n_turns, n_turns)

    n_buckets, ck = 2, str(tmp_path / "ck")
    run_resumable(spark, tiny_df, str(tmp_path / "bkt"), ck, run_id="gc",
                  n_buckets=n_buckets)
    resumed = {int(r["partition_key"]): r for r in spark.read.parquet(ck).collect()}
    for b in range(n_buckets):
        part = tiny_df.filter(bucket_of(F.col("conv_id"), n_buckets) == b)
        gate, mat = gate_and_mat(part, f"b{b}")
        assert gate["rows_out"] == part.count() > 0
        assert ((mat["rows_in"], mat["rows_out"])
                == (resumed[b]["rows_in"], resumed[b]["rows_out"]))
