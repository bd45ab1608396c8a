"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402
import hostenv  # noqa: E402
import workload  # noqa: E402

GIB = 1024 ** 3


@pytest.fixture(scope="module")
def oracle():
    from glean_cetaf_rdfs_spark.oracle import oracle_triples

    pdf = workload.make_transcripts(3, 400, 0.0)
    return workload.oracle_frame(oracle_triples(pdf))


def test_digest_ignores_row_order(oracle):
    shuffled = oracle.sample(frac=1.0, random_state=1).reset_index(drop=True)
    assert workload.digest(shuffled) == workload.digest(oracle)
    assert workload.wrong_triples(shuffled, oracle, workload.digest(oracle)) == 0


def test_check_fires_on_one_dropped_triple(oracle):
    got = oracle.drop(index=oracle.index[17])
    assert workload.digest(got) != workload.digest(oracle)
    assert workload.wrong_triples(got, oracle, workload.digest(oracle)) == 1


def test_check_fires_on_one_added_triple(oracle):
    extra = oracle.iloc[[5]].assign(obj="http://added.example/x")
    got = pd.concat([oracle, extra], ignore_index=True)
    assert workload.wrong_triples(got, oracle, workload.digest(oracle)) == 1


def test_check_fires_on_a_changed_flag_and_a_duplicate(oracle):
    flipped = oracle.copy()
    flipped.loc[flipped.index[0], "obj_is_iri"] = not flipped["obj_is_iri"].iloc[0]
    assert workload.wrong_triples(flipped, oracle, workload.digest(oracle)) == 2
    dup = pd.concat([oracle, oracle.iloc[[0]]], ignore_index=True)
    assert workload.wrong_triples(dup, oracle, workload.digest(oracle)) == 1


def test_same_seed_same_input():
    a = workload.make_transcripts(11, 500, 0.9)
    b = workload.make_transcripts(11, 500, 0.9)
    pd.testing.assert_frame_equal(a, b)


def test_seeds_differ_and_size_is_in_turns():
    a = workload.make_transcripts(1, 500, 0.0)
    b = workload.make_transcripts(2, 500, 0.0)
    assert set(a["conv_id"]).isdisjoint(b["conv_id"])
    for df in (a, b):
        last_conv = df[df["conv_id"] == df["conv_id"].iloc[-1]]
        assert 500 <= len(df) < 500 + len(last_conv)


def test_sparse_text_keeps_structure_and_blanks_most_texts():
    full = workload.make_transcripts(4, 3000, 0.0)
    sparse = workload.make_transcripts(4, 3000, 0.9)
    cols = ["conv_id", "turn_idx", "role", "tool", "ts"]
    pd.testing.assert_frame_equal(full[cols], sparse[cols])
    changed = sparse["text"] != full["text"]
    assert 0.85 < changed.mean() < 0.95
    plain = sparse.loc[changed, "text"]
    assert plain.str.match(r"^(\[\w+ result\] )?\w+ message \d+$").all()
    assert ~plain.str.contains("http").any()


def test_heap_leaves_room_and_is_bounded():
    assert hostenv.heap_bytes(16 * GIB, 4) == 10 * GIB // 3
    assert hostenv.heap_bytes(4 * GIB, 4) == 1 * GIB
    assert hostenv.heap_bytes(128 * GIB, 32) == 6 * GIB


def test_eventlog_summary_of_recorded_log():
    """The recorded log comes from a local[2] session (AQE off, two
    shuffle partitions): ``spark.range(10).count()`` outside any group,
    a 7-key groupBy count under group "agg", and a filtered count under
    group "scan". Figures below are read off the log's task records."""
    out = eventlog.summarize(str(HERE / "testdata" / "eventlog_small.jsonl"))
    assert set(out) == {"agg", "scan", "-"}
    assert {g: (v["jobs"], v["tasks"]) for g, v in out.items()} == {
        "-": (1, 3), "agg": (1, 4), "scan": (1, 3)}
    mb = eventlog.MB
    assert out["agg"]["shuffle_write_mb"] * mb == pytest.approx(343)
    assert out["agg"]["shuffle_read_mb"] == out["agg"]["shuffle_write_mb"]
    assert out["scan"]["shuffle_write_mb"] * mb == pytest.approx(118)
    assert out["agg"]["task_gc_s"] == pytest.approx(0.056)
    assert out["agg"]["run_s"] == pytest.approx(0.658)
    assert out["agg"]["task_cpu_s"] == pytest.approx(0.227065405)
    assert all(v["spill_mb"] == 0 for v in out.values())
