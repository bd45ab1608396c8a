"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — all expressed over DataFrames so they scale by partitioning:

* exact: one hash-groupBy (map-side partial agg, single shuffle),
* n-gram Jaccard: shingle explode → self-join on shingle → pair agg;
  at web scale the shingle join is the skew point — ``max_doc_freq``
  drops stop-shingles (the standard trick) and AQE skew-join handles the
  rest,
* MinHash+LSH: portable md5-string minhash (identical in any engine),
  banded signature → bucket self-join → exact-Jaccard verification of
  candidates only — the classic blocking structure the north rule asks
  for (minhash/LSH blocking + vectorized scoring),
* SimHash: 64-bit token-hash sign aggregation, hamming-close pairs,
* embedding cosine: exact pairwise above a threshold (the LSH-bucketed
  variant for scale lives in similarity.py).

Everything below is pure DataFrame/SQL ops — no Python UDFs at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup_groups(df: DataFrame, id_col: str, key: Column) -> DataFrame:
    """Exact dedup by content hash: → (content_key, keep_id, n_copies).
    keep_id = min id per group (deterministic survivor pick)."""
    return (df.groupBy(F.md5(key).alias("content_key"))
            .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")))


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: → (id, shingle).
    PRECONDITION: ``id_col`` uniquely identifies a row — with duplicate
    ids the per-id window would interleave the rows' token streams.

    Docs with fewer than ``n`` words yield zero shingles (same as the
    SQL oracle). Built as posexplode(split) + n-1 ``lead`` windows over
    (id, pos) instead of the earlier per-row ``transform(sequence,
    slice)``: higher-order functions evaluate interpreted (outside
    whole-stage codegen) and re-evaluate the split per position — the
    window form tokenizes once and measured ~5× faster on identical
    output (260k shingles: ~0.7 s vs ~3.4 s at sf0.1). The (id) window
    shuffle is free in context: the very next operator is a distinct/
    signature aggregation that repartitions anyway."""
    from pyspark.sql.window import Window

    words = F.split(F.col(text_col), " ")
    tok = df.select(F.col(id_col).alias("id"),
                    F.posexplode(words).alias("pos", "_w"))
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("_w")] + [F.lead("_w", i).over(w) for i in range(1, n)]
    last = F.lead("_w", n - 1).over(w)
    return (tok.select("id", F.concat_ws(" ", *parts).alias("shingle"),
                       last.alias("_last"))
            .filter(F.col("_last").isNotNull())
            .drop("_last")
            .distinct())


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                        threshold: float = 0.5,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact pairwise Jaccard over word n-gram shingle sets:
    → (id_a, id_b, jaccard) for pairs ≥ threshold, id_a < id_b.

    ``max_doc_freq`` (scale knob): drop shingles present in more than
    this many docs before the self-join — they generate O(df²) candidate
    rows but cannot push Jaccard of dissimilar docs over a high
    threshold. None = exact (used for the oracle-checked query).

    The self-joins are hinted ``shuffle_hash``: a shuffled,
    non-broadcast plan with no driver-memory spike and no sort. A
    ``merge`` (sort-merge) hint cost +17 s on q18 at sf0.1 in round 2,
    sorting KB-sized build sides.
    """
    sh = word_shingles(df, id_col, text_col, n)
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
        sh = sh.join(freq.filter(F.col("df_") <= max_doc_freq)
                     .hint("shuffle_hash"), "shingle").drop("df_")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (a.join(b.hint("shuffle_hash"), "shingle")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_common")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (common.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.round(F.col("n_common")
                                / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3, k: int = 8) -> DataFrame:
    """Portable minhash: h_i(shingle) = md5(i || '|' || shingle), signature
    component i = lexicographic min over the doc's shingles. md5-string
    minima are engine-independent (same result in Spark, DuckDB, Python).
    → wide (id, h0..h{k-1}).

    ONE ``groupBy(id)`` with k ``min`` aggregates: the shingle stream is
    shuffled exactly once at its own size. The earlier posexplode →
    ``groupBy(id, i)`` formulation shuffled k× the shingle stream — the
    single most expensive exchange in the round-1 bench (q19 12.9 s)."""
    sh = word_shingles(df, id_col, text_col, n)
    aggs = [F.min(F.md5(F.concat_ws("|", F.lit(str(i)), F.col("shingle"))))
            .alias(f"h{i}") for i in range(k)]
    return sh.groupBy("id").agg(*aggs)


def band_signatures(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                    k: int = 8, bands: int = 4) -> DataFrame:
    """MinHash banded LSH signatures: → (id, band, band_sig), one row
    per (doc, band); docs sharing any (band, band_sig) are LSH
    candidates. Banding is a NARROW reshape of the wide signature
    (band_sig built by column concat; no groupBy) — zero extra shuffles
    after the one signature aggregation. Feeds the batch pair finder
    (:func:`minhash_lsh_pairs`)."""
    rows_per_band = k // bands
    sig = minhash_signatures(df, id_col, text_col, n, k)
    band_structs = []
    for b in range(bands):
        cols = [F.concat_ws(":", F.lit(str(i)), F.col(f"h{i}"))
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_structs.append(F.struct(F.lit(b).alias("band"),
                                     F.concat_ws(",", *cols).alias("band_sig")))
    return (sig.select("id", F.explode(F.array(*band_structs)).alias("bb"))
            .select("id", F.col("bb.band").alias("band"),
                    F.col("bb.band_sig").alias("band_sig")))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                      k: int = 8, bands: int = 4,
                      verify_threshold: float = 0.5) -> DataFrame:
    """MinHash + banded LSH blocking + exact-Jaccard verification.

    signature → ``bands`` bands of k/bands rows; docs sharing any band
    bucket become candidates; candidates are verified with exact Jaccard
    (computed only on the candidate set — the vectorized-scoring step).
    → (id_a, id_b, jaccard).
    """
    banded = band_signatures(df, id_col, text_col, n, k, bands)
    ca = banded.select(F.col("id").alias("id_a"), "band", "band_sig")
    cb = banded.select(F.col("id").alias("id_b"), "band", "band_sig")
    # banded stream and shingle stream scale with the corpus — never
    # broadcast candidates; shuffle-hash as in ngram_jaccard_pairs
    cands = (ca.join(cb.hint("shuffle_hash"), ["band", "band_sig"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())

    sh = word_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (cands.join(a.hint("shuffle_hash"), "id_a")
              .join(b.hint("shuffle_hash"), ["id_b", "shingle"])
              .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_common")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (common.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.round(F.col("n_common")
                                / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4))
            .filter(F.col("jaccard") >= verify_threshold)
            .select("id_a", "id_b", "jaccard"))


def token_hash64(col) -> "F.Column":
    """Portable 64-bit token hash: the top 16 hex chars of md5, assembled
    from two 32-bit halves (`conv` can't parse 64 unsigned hex bits into
    a signed long). Identical bits in any engine — DuckDB derives the
    same value with ``('0x' || substr(md5(w),1,16))::UBIGINT``."""
    md5h = F.md5(col)
    hi = F.conv(F.substring(md5h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(md5h, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over word tokens: token hash = portable md5-derived
    64-bit value (:func:`token_hash64`), bit k of the fingerprint = sign
    of Σ_tokens (2·bit_k(h) − 1). → (id, simhash).

    Portability makes the near-pair query oracle-checkable in DuckDB
    (same fingerprints bit-for-bit; hamming via xor+bit_count)."""
    tok = (df.select(F.col(id_col).alias("id"),
                     F.explode(F.split(F.col(text_col), " ")).alias("w"))
           .filter(F.col("w") != "")
           .withColumn("h", token_hash64(F.col("w"))))
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{b}")
        for b in range(64)
    ]
    agg = tok.groupBy("id").agg(*bit_sums)
    fp = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1)).otherwise(F.lit(0))
        contrib = F.shiftleft(bit.cast("long"), b)
        fp = contrib if fp is None else fp.bitwiseXOR(contrib)
    return agg.select("id", fp.alias("simhash"))


# simhash_near_pairs blocks on at most this many bit chunks: narrower
# chunks make buckets too coarse and the join quadratic again
MAX_SIMHASH_CHUNKS = 8


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, blocked
    on bit chunks: a pair within distance d shares at least one of
    ``n_chunks`` chunks whenever ``n_chunks > d`` (pigeonhole), so the
    self-join runs on chunk buckets, never a full cross product.
    n_chunks is max_hamming+1, capped at MAX_SIMHASH_CHUNKS; for larger
    distances recall becomes probabilistic. → (id_a, id_b, hamming)."""
    n_chunks = min(MAX_SIMHASH_CHUNKS, max_hamming + 1)
    if n_chunks <= max_hamming:
        import warnings

        warnings.warn(
            f"simhash_near_pairs: n_chunks={n_chunks} <= max_hamming="
            f"{max_hamming} leaves the pigeonhole guarantee — recall is "
            "probabilistic (pairs differing in every chunk are missed)",
            stacklevel=2)
    width = 64 // n_chunks
    sh = simhash64(df, id_col, text_col)
    chunk_structs = []
    for c in range(n_chunks):
        w = width if c < n_chunks - 1 else 64 - width * (n_chunks - 1)
        mask = (1 << w) - 1 if w < 64 else -1  # -1 = all 64 bits (JVM long)
        chunk_structs.append(F.struct(
            F.lit(c).alias("c"),
            F.shiftright(F.col("simhash"), width * c)
            .bitwiseAND(F.lit(mask)).alias("v")))
    chunks = sh.select(
        "id", "simhash", F.explode(F.array(*chunk_structs)).alias("ch"),
    ).select("id", "simhash", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    a = chunks.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "c", "v")
    b = chunks.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "c", "v")
    return (a.join(b, ["c", "v"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                    .cast("int").alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


def embedding_cosine_pairs(df: DataFrame, id_col: str, vec_col: str,
                           threshold: float = 0.95) -> DataFrame:
    """Exact pairwise cosine near-dup over an array<float/double> column:
    → (id_a, id_b, cos). Quadratic — the scale path is
    similarity.lsh_bucket_topk; this exact form is the verification/oracle
    baseline."""
    withn = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.sqrt(F.aggregate(vec_col, F.lit(0.0),
                           lambda acc, x: acc + x.cast("double") * x.cast("double")))
        .alias("nrm"),
    )
    a = withn.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = withn.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 4))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos"))


def _banded_sign_buckets(df: DataFrame, id_col: str, vec_col: str,
                         planes: list[list[int]],
                         n_planes: int) -> DataFrame:
    """→ (id, band, bucket): per-band sign-LSH bucket strings, computed
    in one Arrow-vectorized pandas stage. Each projection is an exact
    left-to-right float64 sum — accumulated dimension-by-dimension over
    an (n_rows, n_planes) buffer, which adds terms in the same
    sequential order as ``np.cumsum``/the JVM ``zip_with``/``aggregate``
    fold/DuckDB's ``list_dot_product`` (bit-identical projections,
    asserted when this replaced the per-plane cumsum — ~2× less memory
    traffic than materializing a cumsum matrix per plane; a matmul
    would be faster still but uses pairwise summation, which rounds
    differently). All three engines derive the same buckets. The
    column-expression form (similarity.lsh_bucket_of) stays the right
    tool for ≤4-plane probes; at 64 projections its Catalyst/janino
    cost dominates the query."""
    import numpy as np
    import pandas as pd

    n_bands = len(planes) // n_planes
    w = np.asarray(planes, dtype=np.float64)  # (n_bands*n_planes, dim)
    id_type = dict(df.dtypes)[id_col]  # keep the caller's id type (string ids work)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf[vec_col]])  # (n, dim)
            # left-to-right running sum per (row, plane), accumulated
            # one dimension at a time across ALL planes at once
            acc = np.zeros((len(x), len(w)), dtype=np.float64)
            for d in range(x.shape[1]):
                acc += np.outer(x[:, d], w[:, d])
            signs = (acc > 0).astype(np.uint8)
            chars = np.where(signs, "1", "0")
            ids = pdf[id_col].to_numpy()
            out = {
                "id": np.repeat(ids, n_bands),
                "band": np.tile(np.arange(n_bands, dtype=np.int32), len(x)),
                "bucket": [
                    "".join(chars[i, b * n_planes:(b + 1) * n_planes])
                    for i in range(len(x)) for b in range(n_bands)
                ],
            }
            yield pd.DataFrame(out)

    return (df.select(id_col, vec_col)
            .mapInPandas(run, schema=f"id {id_type}, band int, bucket string"))


def embedding_cosine_pairs_bucketed(df: DataFrame, id_col: str, vec_col: str,
                                    threshold: float = 0.95, *,
                                    n_planes: int = 4,
                                    n_bands: int = 1) -> DataFrame:
    """Near-dup pairs with banded sign-LSH blocking — the shipped scale
    path replacing :func:`embedding_cosine_pairs`'s O(N²) cross product.

    OR-amplification across ``n_bands`` independent ``n_planes``-plane
    sign buckets (the minhash banding construction applied to random
    hyperplanes): a pair becomes a candidate if it shares ANY band's full
    bucket, then candidates are verified with the exact cosine. With
    p = P(one sign bit agrees) = 1 − θ/π, pair recall is
    1 − (1 − p^n_planes)^n_bands — at cos 0.9, 8 planes × 8 bands gives
    ≈0.94 vs ≈0.54 for the single AND-only bucket (the round-2 defect),
    and the longer band buckets keep candidate volume low (more-bands ×
    longer-bands: the standard LSH tuning).
    Candidate volume stays bucket-bounded: the per-band equi-join is the
    same shuffle as before, ×n_bands, with a distinct before the exact
    verify so no pair is scored twice. → (id_a, id_b, cos).

    The n_bands·n_planes sign projections run in ONE Arrow-vectorized
    stage (:func:`_banded_sign_buckets`) — as JVM fold expressions, 64
    projections × a duplicated self-join subtree cost ~5 s of Catalyst
    analysis + janino compilation alone at 64 dims (measured); the
    numpy form is bit-identical (left-to-right cumsum) and milliseconds."""
    from .similarity import _dot, _norm, plane_weights

    dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    planes = plane_weights(dim, n_bands * n_planes)
    withn = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                      _norm(F.col(vec_col)).alias("nrm"))
    banded = _banded_sign_buckets(df, id_col, vec_col, planes, n_planes)
    ca = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    cb = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    cands = (ca.join(cb, ["band", "bucket"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    a = withn.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                     F.col("nrm").alias("na"))
    b = withn.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                     F.col("nrm").alias("nb"))
    return (cands.join(a, "id_a").join(b, "id_b")
            .withColumn("cos", F.round(_dot(F.col("va"), F.col("vb"))
                                       / (F.col("na") * F.col("nb")), 4))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos"))
