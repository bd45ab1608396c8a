"""Tests for the training-data operators that aren't (fully) covered by a
DuckDB oracle: simhash, LSH recall, winnowing fingerprints, multimodal
decode plumbing, language-ID heuristics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glean_cetaf_rdfs_spark.operators import dedupe as D
from glean_cetaf_rdfs_spark.operators import multimodal as MM
from glean_cetaf_rdfs_spark.operators import similarity as S
from glean_cetaf_rdfs_spark.operators import textops as T

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_simhash_identical_texts_collide(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "a completely different sentence about spark engines and shuffles")],
        "doc_id long, text string")
    fps = {r["id"]: r["simhash"] for r in D.simhash64(df, "doc_id", "text").collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]
    pairs = D.simhash_near_pairs(df, "doc_id", "text", max_hamming=0).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_simhash_small_perturbation_small_distance(spark):
    base = "one two three four five six seven eight nine ten " * 4
    df = spark.createDataFrame(
        [(1, base), (2, base + " eleven")], "doc_id long, text string")
    fps = {r["id"]: r["simhash"] for r in D.simhash64(df, "doc_id", "text").collect()}
    d = bin((fps[1] ^ fps[2]) & ((1 << 64) - 1)).count("1")
    assert 0 < d <= 24  # one extra token flips few fingerprint bits
    # blocking contract: guaranteed recall when max_hamming < n_chunks
    p = D.simhash_near_pairs(df, "doc_id", "text", max_hamming=d).collect()
    if d <= 7:  # within the pigeonhole guarantee (8 chunks)
        assert [(r["id_a"], r["id_b"])] == [(1, 2)] if (r := p[0]) else False


def test_simhash_portable_hash_matches_python(spark):
    """The engine's token hash must equal int(md5_hex[:16], 16) as a
    signed 64-bit value — the exact quantity the DuckDB oracle derives
    with ('0x' || substr(md5(w),1,16))::UBIGINT."""
    import hashlib

    words = ["hello", "spark", "ünïcode", "a", "zzz"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r["w"]: r["h"]
           for r in df.select("w", D.token_hash64(F.col("w")).alias("h")).collect()}
    for w in words:
        want = int(hashlib.md5(w.encode()).hexdigest()[:16], 16)
        want_signed = want - (1 << 64) if want >= (1 << 63) else want
        assert got[w] == want_signed, w


def test_simhash_blocking_exact_within_guarantee(spark, docs):
    """Pigeonhole completeness: with max_hamming=7 < n_chunks=8, the
    blocked join must return EXACTLY the pairs at hamming ≤ 7 — verified
    against the all-pairs distance computed from collected fingerprints."""
    fps = {r["id"]: r["simhash"] & ((1 << 64) - 1)
           for r in D.simhash64(docs, "doc_id", "text").collect()}
    ids = sorted(fps)
    want = {(a, b, bin(fps[a] ^ fps[b]).count("1"))
            for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin(fps[a] ^ fps[b]).count("1") <= 7}
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in D.simhash_near_pairs(docs, "doc_id", "text",
                                         max_hamming=7).collect()}
    assert got == want


def test_minhash_lsh_recall_vs_exact(docs):
    """LSH candidates must find every truly-similar pair at this scale
    (8 hashes / 4 bands / threshold .5 — high-probability blocking). The
    exact shingle self-joins plan as shuffled hash joins: no forced sort,
    no cartesian product."""
    exact_df = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5,
                                     max_doc_freq=20)
    plan = exact_df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    exact = {(r["id_a"], r["id_b"])
             for r in D.ngram_jaccard_pairs(docs, "doc_id", "text",
                                            threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in D.minhash_lsh_pairs(docs, "doc_id", "text",
                                        verify_threshold=0.5).collect()}
    assert lsh <= exact  # verification step guarantees precision = 1
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.8


def test_lsh_topk_subset_of_exact_scoring(embs):
    q = [float(x) for x in
         embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["id"]: r["cos"]
             for r in S.cosine_topk(embs, "vec_id", "embedding", q, k=50).collect()}
    approx = S.lsh_bucket_topk(embs, "vec_id", "embedding", q, k=10).collect()
    assert approx, "query bucket must contain at least the query itself"
    assert approx[0]["id"] == 0 and approx[0]["cos"] == pytest.approx(1.0, abs=1e-3)
    for r in approx:  # approximate scores must equal exact scores (same math)
        if r["id"] in exact:
            assert r["cos"] == exact[r["id"]]


def test_winnow_golden_and_shift_robustness():
    fp1 = T.winnow_py("the quick brown fox jumps over the lazy dog")
    fp2 = T.winnow_py("XX the quick brown fox jumps over the lazy dog")
    assert fp1 and fp2
    overlap = len(set(fp1) & set(fp2)) / len(set(fp1))
    assert overlap >= 0.5  # winnowing keeps most fingerprints under shift
    assert T.winnow_py("short") == []
    assert T.winnow_py("the quick brown fox jumps over the lazy dog") == fp1


def test_multimodal_metadata_plumbing(spark, docs):
    assets = MM.assets_from_documents(docs)
    meta = MM.extract_metadata(assets).cache()
    n = meta.count()
    assert n == docs.count()
    kinds = {r["kind"] for r in meta.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    img = meta.filter(F.col("kind") == "image")
    assert img.filter(F.col("width").isNull() | F.col("height").isNull()).count() == 0
    assert img.filter(F.col("duration_ms").isNotNull()).count() == 0
    vid = meta.filter(F.col("kind") == "video")
    assert vid.filter(F.col("duration_ms").isNull()).count() == 0

    # corrupt payload keeps its row (byte facts present, decode fields null)
    bad = spark.createDataFrame([(999, "image", bytearray(b""), 0)],
                                MM.ASSET_SCHEMA)
    bad_meta = MM.extract_metadata(bad).collect()
    assert len(bad_meta) == 1
    assert bad_meta[0]["n_bytes"] == 0 and bad_meta[0]["sha256"] is not None
    assert bad_meta[0]["width"] is None and bad_meta[0]["duration_ms"] is None

    meta.unpersist()


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of a house"),
         (2, "der hund und die katze ein haus"),
         (3, "le chat et la maison des les arbres"),
         (4, "el perro y los gatos que una casa"),
         (5, "zzz qqq www")],
        "doc_id long, text string")
    got = {r["id"]: r["lang_pred"] for r in T.lang_id(df, "doc_id", "text").collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_embedding_bucketed_recall_vs_exact(spark):
    """Banded sign-LSH near-dup pairs must find ≥80% of the true pairs
    at their own threshold (the round-2 single-AND-bucket form had
    analytical recall ≈0.54 at cos 0.9 — OR-amplified banding is the
    fix). Planted fixture: 40 base vectors each with a perturbed copy at
    cos ≈ 0.97, plus 80 noise vectors."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows, vid = [], 0
    for _ in range(40):
        base = rng.randn(64)
        rows.append((vid, [float(x) for x in base])); vid += 1
        pert = base + 0.25 * rng.randn(64)  # cos ≈ 0.97 to base
        rows.append((vid, [float(x) for x in pert])); vid += 1
    for _ in range(80):
        rows.append((vid, [float(x) for x in rng.randn(64)])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r["id_a"], r["id_b"])
             for r in D.embedding_cosine_pairs(df, "vec_id", "embedding",
                                               threshold=0.9).collect()}
    banded = {(r["id_a"], r["id_b"])
              for r in D.embedding_cosine_pairs_bucketed(
                  df, "vec_id", "embedding", threshold=0.9,
                  n_planes=8, n_bands=8).collect()}  # the shipped q21 shape
    assert exact, "fixture must plant true near-dup pairs"
    assert banded <= exact  # exact verify ⇒ precision 1
    assert len(banded & exact) / len(exact) >= 0.8


def test_embedding_bucketed_pairs_subset_of_exact(embs):
    """Blocked near-dup pairs must be a subset of the exact pairwise set
    with identical cosines (precision = 1; blocking only affects recall)."""
    exact = {(r["id_a"], r["id_b"]): r["cos"]
             for r in D.embedding_cosine_pairs(embs, "vec_id", "embedding",
                                               threshold=0.8).collect()}
    blocked = {(r["id_a"], r["id_b"]): r["cos"]
               for r in D.embedding_cosine_pairs_bucketed(
                   embs, "vec_id", "embedding", threshold=0.8).collect()}
    assert set(blocked) <= set(exact)
    for k, v in blocked.items():
        assert exact[k] == v


def _column_bucket(spark, vec: list[float], planes) -> str:
    """The bucket Spark assigns ``vec`` via lsh_bucket_of, the write side."""
    return (spark.createDataFrame([(vec,)], "v array<double>")
            .select(S.lsh_bucket_of(F.col("v"), planes).alias("b")).first()["b"])


def test_materialized_bucket_table_prunes_partitions(spark, embs, tmp_path):
    """The ANN scale path: probe against the partitionBy(bucket) table
    must (a) push the bucket filter into PartitionFilters — reading one
    directory, not the table — and (b) return exactly lsh_bucket_topk's
    answer (same math, same bucket)."""
    q = [float(x) for x in
         embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "buckets")
    S.write_bucketed_embeddings(embs, "vec_id", "embedding", path, n_planes=4)
    probe = S.bucketed_table_topk(spark, path, q, k=10, n_planes=4)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    qb = _column_bucket(spark, q, S.plane_weights(len(q), 4))
    assert qb in plan  # the literal bucket value reached the scan
    want = [(r["id"], r["cos"]) for r in
            S.lsh_bucket_topk(embs, "vec_id", "embedding", q, k=10).collect()]
    got = [(r["id"], r["cos"]) for r in probe.collect()]
    assert got == want


def _planted_embeddings(spark, n_near: int = 15, n_noise: int = 120):
    """Query vector 0 + n_near perturbed copies (cos ≈ 0.97) + noise."""
    import numpy as np

    rng = np.random.RandomState(11)
    q = rng.randn(64)
    rows = [(0, [float(x) for x in q])]
    vid = 1
    for _ in range(n_near):
        rows.append((vid, [float(x) for x in q + 0.25 * rng.randn(64)]))
        vid += 1
    for _ in range(n_noise):
        rows.append((vid, [float(x) for x in rng.randn(64)]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_multiprobe_recall_on_materialized_table(spark, tmp_path):
    """recall@10 ≥ 0.8 for the multi-probe probe of the materialized
    bucket table vs exact cosine top-k (the q36/q40 path), and the scan
    must stay partition-pruned (bucket IN (...) reaches PartitionFilters,
    never a full scan)."""
    df = _planted_embeddings(spark)
    q = [float(x) for x in
         df.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "buckets")
    S.write_bucketed_embeddings(df, "vec_id", "embedding", path, n_planes=4)
    exact = [r["id"] for r in
             S.cosine_topk(df, "vec_id", "embedding", q, k=10).collect()]
    probe = S.bucketed_table_topk(spark, path, q, k=10, n_planes=4, n_probe=5)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    got = [r["id"] for r in probe.collect()]
    assert len(set(got) & set(exact)) / len(exact) >= 0.8
    # single-probe results are a subset of what multi-probe can see
    one = {r["id"] for r in
           S.bucketed_table_topk(spark, path, q, k=10, n_planes=4).collect()}
    assert one <= set(got) | (one - set(exact))


def test_probe_buckets_sequence_deterministic(spark):
    """First probe = the query's own bucket as the Column form computes
    it; flips ordered by ascending margin; capped at n_planes+1
    distinct buckets."""
    planes = S.plane_weights(4, 4)
    q = [1.0, 0.5, -0.25, 2.0]
    seq = S.probe_buckets(q, planes, n_probe=5)
    assert seq[0] == _column_bucket(spark, q, planes)
    assert len(seq) == len(set(seq)) == 5
    for b in seq[1:]:  # every later probe is a 1-bit flip of the base
        assert sum(x != y for x, y in zip(b, seq[0])) == 1
    assert S.probe_buckets(q, planes, n_probe=99) == seq  # single-flip cap


def test_ivf_trained_centroids_frozen_and_balanced(spark):
    """The trained quantizer must (a) reproduce the frozen sf0.01
    centroids the q39 oracle embeds (drift guard) and (b) produce lists
    within 4× of balanced on the driver fixture."""
    import pytest

    from glean_cetaf_rdfs_spark.queries_data import _Q39_CENTROIDS_SF001

    path = "/root/testdata/sf0.01/embeddings.parquet"
    try:
        emb = spark.read.parquet(path)
    except Exception:  # noqa: BLE001
        pytest.skip("driver testdata not present")
    cents = S.ivf_centroids(emb, "vec_id", "embedding", 8)
    assert [cents[j] for j in sorted(cents)] == _Q39_CENTROIDS_SF001
    sizes = {r["list_id"]: r["n"] for r in
             S.ivf_assign(emb, "vec_id", "embedding", cents)
             .groupBy("list_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_total = sum(sizes.values())
    assert max(sizes.values()) <= 4 * n_total / len(cents)
    assert len(sizes) == len(cents)  # no empty inverted list on the fixture


def test_bucket_table_cache_invalidates_on_input_change(spark, tmp_path):
    """Regenerating embeddings.parquet at the same path must produce a
    DIFFERENT session-cached bucket-table path (content tag in the key),
    so a stale table can never serve the probe."""
    import shutil

    from glean_cetaf_rdfs_spark.queries_data import _bucket_table_path

    sf_dir = str(tmp_path / "sf")
    df1 = _planted_embeddings(spark, n_near=2, n_noise=10)
    df1.write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet")
    p1 = _bucket_table_path(spark, sf_dir)
    shutil.rmtree(f"{sf_dir}/embeddings.parquet")
    df1.limit(8).write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet")
    p2 = _bucket_table_path(spark, sf_dir)
    assert p1 != p2


def test_ivf_table_topk_prunes_and_matches_inline(spark, embs, tmp_path):
    """The materialized IVF list table (the second 100 TB ANN layout)
    must (a) partition-prune the probe to the selected list directories
    and (b) return exactly what the inline ivf_topk computes (same
    trained centroids, same assignment, same scoring)."""
    q = [float(x) for x in
         embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "ivf")
    cents = S.write_ivf_lists(embs, "vec_id", "embedding", path, k_centroids=8)
    probe = S.ivf_table_topk(spark, path, q, cents, k=10, n_probe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    want = [(r["id"], r["cos"]) for r in
            S.ivf_topk(embs, "vec_id", "embedding", q, k=10, n_probe=2).collect()]
    got = [(r["id"], r["cos"]) for r in probe.collect()]
    assert got == want


def test_ivf_topk_subset_of_exact(embs):
    """IVF probe results must carry exact cosine scores (subset of the
    brute-force ranking) and include the query vector itself (its own
    list is always probed)."""
    q = [float(x) for x in
         embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["id"]: r["cos"]
             for r in S.cosine_topk(embs, "vec_id", "embedding", q, k=50).collect()}
    got = S.ivf_topk(embs, "vec_id", "embedding", q, k=10).collect()
    assert got and got[0]["id"] == 0  # query lands in its probed list
    for r in got:
        if r["id"] in exact:
            assert r["cos"] == exact[r["id"]]
    # more probes -> recall can only grow
    one = {r["id"] for r in got}
    three = {r["id"] for r in
             S.ivf_topk(embs, "vec_id", "embedding", q, k=10, n_probe=3).collect()}
    assert len(three & set(exact)) >= len(one & set(exact)) - 1


# --- substring-level (span) dedup ------------------------------------------

def test_repeated_span_removal_planted_boilerplate(spark):
    """A license sentence planted in 3 of 4 docs must be detected and
    removed from each carrier (recall 1 on the planted span), while the
    docs' unique content and the clean doc are untouched."""
    from glean_cetaf_rdfs_spark.operators import spandedup as SP

    boiler = "this text is released under the example open license terms"
    uniq = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "one two three four five six seven eight nine",
        3: "red orange yellow green blue indigo violet colors",
        4: "solo document with entirely unique words only here",
    }
    rows = [(1, uniq[1] + " " + boiler),
            (2, boiler + " " + uniq[2]),
            (3, uniq[3][:20] + " " + boiler + " " + uniq[3][21:]),
            (4, uniq[4])]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    stats = {r["id"]: r for r in
             SP.repeated_span_stats(df, "doc_id", "text",
                                    k=5, min_docs=2).collect()}
    assert stats[4]["n_common_pos"] == 0
    for i in (1, 2, 3):
        assert stats[i]["n_removed_tokens"] >= len(boiler.split())

    out = {r["id"]: r for r in
           SP.remove_repeated_spans(df, "doc_id", "text",
                                    k=5, min_docs=2).collect()}
    for i in (1, 2, 3):
        clean = out[i]["text_clean"]
        assert boiler not in clean                      # span gone
        for w in ("alpha", "nine", "violet"):
            if w in uniq[i]:
                assert w in clean                       # unique kept
    assert out[4]["text_clean"] == uniq[4]              # clean doc intact
    assert out[4]["n_tokens_removed"] == 0
    # removal accounting consistent with stats
    for i in (1, 2, 3, 4):
        assert out[i]["n_tokens_removed"] == stats[i]["n_removed_tokens"]


def test_repeated_span_stats_short_docs_no_rows(spark):
    """Docs shorter than k words produce no shingle positions (and no
    negative-length sequence errors)."""
    from glean_cetaf_rdfs_spark.operators import spandedup as SP

    df = spark.createDataFrame(
        [(1, "too short"), (2, "too short"), (3, "")],
        "doc_id long, text string")
    got = {r["id"]: r for r in
           SP.repeated_span_stats(df, "doc_id", "text",
                                  k=5, min_docs=2).collect()}
    assert all(got[i]["n_common_pos"] == 0 for i in (1, 2, 3))


def test_corpus_stats_approx_tracks_exact(spark, docs):
    """The 100 TB path (approx_percentile sketch, mergeable partials)
    agrees with the exact-percentile mode on counts/means exactly and
    on p50/p90 within the sketch tolerance — the evidence behind q43's
    'swap exact for approx at scale' contract."""
    exact = {r["lang_pred"]: r for r in
             T.corpus_stats(docs, "doc_id", "text", exact=True).collect()}
    approx = {r["lang_pred"]: r for r in
              T.corpus_stats(docs, "doc_id", "text", exact=False).collect()}
    assert set(exact) == set(approx)
    for lang, e in exact.items():
        a = approx[lang]
        assert a["n_docs"] == e["n_docs"]
        assert a["avg_tokens"] == e["avg_tokens"]
        for col in ("p50_tokens", "p90_tokens"):
            # the GK sketch returns an ACTUAL element while exact mode
            # interpolates between neighbors, so allow one neighbor gap
            # (~3 tokens on this distribution) or 5% relative
            assert abs(a[col] - e[col]) <= max(3.0, 0.05 * e[col]), (lang, col)


def test_train_sample_caps_raise(spark, embs):
    """Round-6 guard: driver-side training collects are capped —
    sample_n past MAX_TRAIN_SAMPLE raises instead of silently becoming
    a driver OOM (VERDICT r5 #4 latent item)."""
    with pytest.raises(ValueError, match="sample_n=200000 exceeds"):
        S.ivf_centroids(embs, "vec_id", "embedding", sample_n=200_000)
