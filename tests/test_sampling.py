"""Deterministic stratified sampling: partitioning-invariance, rate
monotonicity, portability of the hash bucket, and dict semantics."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from glean_cetaf_rdfs_spark.operators import sampling as SMP


def _docs(spark, n=400):
    rows = [(i, f"src{i % 4}", f"doc number {i}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_sampling_is_partitioning_invariant(spark):
    """The kept set must not change when the input is repartitioned —
    the defect in RNG-stream sampling this operator exists to avoid."""
    df = _docs(spark)
    rates = {"src0": 500, "src1": 200, "src2": 900, "src3": 0}
    a = {r["doc_id"] for r in
         SMP.sample_stratified(df, "doc_id", "source", rates).collect()}
    b = {r["doc_id"] for r in
         SMP.sample_stratified(df.repartition(13, "text"), "doc_id",
                               "source", rates).collect()}
    assert a == b and a
    assert not any(i % 4 == 3 for i in a)      # rate-0 stratum dropped


def test_sampling_rate_monotone(spark):
    """Raising a stratum's rate only ADDS rows (hash-threshold property
    incremental mix rebalancing relies on)."""
    df = _docs(spark)
    lo = {r["doc_id"] for r in SMP.sample_stratified(
        df, "doc_id", "source", {f"src{i}": 200 for i in range(4)}).collect()}
    hi = {r["doc_id"] for r in SMP.sample_stratified(
        df, "doc_id", "source", {f"src{i}": 600 for i in range(4)}).collect()}
    assert lo < hi


def test_hash_bucket_matches_python_md5(spark):
    """The bucket must equal the portable definition int(md5[:8],16)%1000
    — the contract the DuckDB oracle and any other engine reproduce."""
    df = _docs(spark, 50)
    got = {r["doc_id"]: r["bucket"] for r in
           df.select("doc_id",
                     SMP.hash_bucket(F.col("doc_id"), "s1")).collect()}
    for i in range(50):
        want = int(hashlib.md5(f"s1{i}".encode()).hexdigest()[:8], 16) % 1000
        assert got[i] == want


def test_missing_stratum_dropped_and_salt_changes_subset(spark):
    df = _docs(spark)
    only0 = SMP.sample_stratified(df, "doc_id", "source", {"src0": 1000})
    assert {r["source"] for r in only0.collect()} == {"src0"}
    assert only0.count() == 100                 # rate 1000 = keep all
    a = {r["doc_id"] for r in SMP.sample_stratified(
        df, "doc_id", "source", {"src0": 300}, salt="a").collect()}
    b = {r["doc_id"] for r in SMP.sample_stratified(
        df, "doc_id", "source", {"src0": 300}, salt="b").collect()}
    assert a != b                               # different salt, different draw


def test_pack_sequences_budget_and_shard_independence(spark):
    """Distributed packing: every pack (except oversize singletons) fits
    the budget; pack_pos is dense in-order per pack; sharded packing
    assigns every doc exactly once and never mixes shards in a pack."""
    from glean_cetaf_rdfs_spark.operators.packing import pack_sequences

    rows = [(i, "s0" if i % 2 else "s1", 10 + (i * 37) % 200)
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n int")

    packed = pack_sequences(df, "doc_id", "n", "source", budget=256)
    got = packed.join(df.select(F.col("doc_id").alias("id"), "n"), "id")
    fills = {r["pack_id"]: r["s"] for r in
             got.groupBy("pack_id").agg(F.sum("n").alias("s")).collect()}
    sizes = {r["pack_id"]: r["c"] for r in
             got.groupBy("pack_id").agg(F.count(F.lit(1)).alias("c")).collect()}
    for pid, fill in fills.items():
        assert fill <= 256 or sizes[pid] == 1     # only oversize alone
    assert packed.count() == 300                  # every doc packed once
    assert packed.select("id").distinct().count() == 300

    sharded = pack_sequences(df, "doc_id", "n", "source", budget=256,
                             n_shards=4)
    assert sharded.count() == 300
    assert sharded.select("id").distinct().count() == 300
    # pack ids embed the shard → packs never span shards by construction
    pos = {(r["pack_id"], r["pack_pos"]) for r in sharded.collect()}
    assert len(pos) == 300                        # (pack, pos) unique


# --- property tests (hypothesis) -------------------------------------------

def test_pack_greedy_properties():
    """Invariants over random count streams: (a) pack indices are
    non-decreasing and start at 0; (b) a pack exceeds the budget only
    when a SINGLE nonzero-count member did so alone (zero-count docs
    occupy no budget and may share such a pack); (c) splitting never
    reorders docs."""
    from hypothesis import given, strategies as st

    from glean_cetaf_rdfs_spark.operators.packing import pack_greedy_py

    @given(st.lists(st.integers(min_value=0, max_value=2000), max_size=200),
           st.integers(min_value=1, max_value=1024))
    def check(counts, budget):
        packs = pack_greedy_py(counts, budget)
        assert len(packs) == len(counts)
        if packs:
            assert packs[0] == 0
            assert all(b - a in (0, 1) for a, b in zip(packs, packs[1:]))
            fill: dict[int, int] = {}
            nz: dict[int, int] = {}
            for p, c in zip(packs, counts):
                fill[p] = fill.get(p, 0) + c
                nz[p] = nz.get(p, 0) + (1 if c > 0 else 0)
            for p, f in fill.items():
                assert f <= budget or nz[p] == 1

    check()


def test_bpe_count_properties():
    """Invariants over arbitrary text: count is 0 iff text is empty,
    never exceeds len(text) (fallback singles), and is additive-or-
    better under concatenation with a space (greedy can only merge
    across the boundary, never split)."""
    from hypothesis import given, strategies as st

    from glean_cetaf_rdfs_spark.operators.textops import bpe_count_py

    @given(st.text(max_size=120))
    def check(t):
        n = bpe_count_py(t)
        assert (n == 0) == (t == "")
        assert n <= len(t)

    check()


def test_hash_bucket_range_property():
    """Buckets land in [0, n) for arbitrary ids and salts (pure-Python
    mirror of the Column expression)."""
    import hashlib

    from hypothesis import given, strategies as st

    @given(st.integers(min_value=0, max_value=2**62),
           st.text(alphabet="abcdef0123456789", max_size=8),
           st.integers(min_value=1, max_value=4096))
    def check(i, salt, n):
        b = int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:8], 16) % n
        assert 0 <= b < n

    check()


# --- plan-shape contracts for the round-4 queries --------------------------

def test_new_query_plan_shapes(spark):
    """q46/q47/q52 physical plans keep their scale contracts: no
    cartesian product anywhere; the PII counters stay in one projection
    (no Python eval node); the sampling rates join is broadcast."""
    import __spark_entry__ as E

    qs = E.queries()
    sf = "/root/testdata/sf0.001"
    for name in ("q46_repeated_span_stats", "q47_pii_scan",
                 "q48_contamination_scan", "q52_stratified_sample"):
        plan = qs[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name      # no row-Python
        assert "ArrowEvalPython" not in plan, name      # no pandas UDF either
    rates_plan = qs["q52_stratified_sample"](spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in rates_plan            # rates side broadcast


def test_pack_sequences_carry_tokens(spark):
    """carry_tokens=True appends the input count as n_tokens (round-6:
    lets fill accounting aggregate the packing output instead of
    re-joining — and re-executing — the token-count stage) without
    changing the packing decisions."""
    from pyspark.sql import functions as F

    from glean_cetaf_rdfs_spark.operators.packing import pack_sequences

    rows = [(i, "s0" if i % 2 else "s1", 50 + (i * 37) % 150)
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    plain = pack_sequences(df, "doc_id", "n", "source", budget=256,
                           n_shards=4).collect()
    carried = pack_sequences(df, "doc_id", "n", "source", budget=256,
                             n_shards=4, carry_tokens=True)
    assert "n_tokens" in carried.columns
    got = carried.collect()
    assert ({(r["id"], r["stratum"], r["pack_id"], r["pack_pos"]) for r in plain}
            == {(r["id"], r["stratum"], r["pack_id"], r["pack_pos"]) for r in got})
    n_by_id = {r[0]: r[2] for r in rows}
    assert all(r["n_tokens"] == n_by_id[r["id"]] for r in got)
    # fill accounting off the carried column matches the join-back form
    fills_carried = {(r["stratum"], r["pack_id"]): r["f"] for r in
                     carried.groupBy("stratum", "pack_id")
                     .agg(F.sum("n_tokens").alias("f")).collect()}
    packed_df = pack_sequences(df, "doc_id", "n", "source", budget=256,
                               n_shards=4)
    fills_joined = {(r["stratum"], r["pack_id"]): r["f"] for r in
                    packed_df.join(df.withColumnRenamed("doc_id", "id"), "id")
                    .groupBy("stratum", "pack_id")
                    .agg(F.sum("n").alias("f")).collect()}
    assert fills_carried == fills_joined
