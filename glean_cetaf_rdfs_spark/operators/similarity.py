"""Similarity search over embedding columns.

* :func:`cosine_topk` — brute-force exact top-k (the correctness
  baseline): one narrow pass computing dot/norms with built-in
  higher-order functions (``zip_with`` + ``aggregate`` — JVM codegen, no
  Python), then a global top-k (``orderBy``+``limit`` → TakeOrdered, no
  full sort shuffle).

* :func:`lsh_bucket_topk` — the scale path: random-hyperplane sign LSH.
  Plane weights are small deterministic integers generated from a seed
  and embedded as a literal table, so any engine (Spark, DuckDB, Python)
  derives identical buckets. Search cost drops from O(N) dots to
  O(N/2^planes) per probe bucket; at 100 TB the bucketed table is
  pre-materialized and bucket-pruned at read (partition column).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LSH_SEED = 42


def plane_weights(dim: int, n_planes: int, seed: int = LSH_SEED) -> list[list[int]]:
    """Deterministic integer hyperplane weights in [-8, 8] (seeded)."""
    rng = np.random.RandomState(seed)
    return rng.randint(-8, 9, size=(n_planes, dim)).tolist()


def _dot(va, vb):
    return F.aggregate(F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_topk(df: DataFrame, id_col: str, vec_col: str,
                query: list[float], k: int = 10) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``:
    → (id, cos) ordered desc, id tiebreak."""
    qlit = F.array(*[F.lit(float(x)) for x in query])
    qn = float(np.sqrt(np.dot(query, query)))
    return (df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .withColumn("cos", F.round(_dot(F.col("v"), qlit) / (_norm(F.col("v")) * F.lit(qn)), 4))
            .select("id", "cos")
            .orderBy(F.col("cos").desc(), F.col("id"))
            .limit(k))


def lsh_bucket_of(vec_col, planes: list[list[int]]):
    """Sign-LSH bucket key (string of 0/1 bits) as a Column expression.

    One ``zip_with``+``aggregate`` per plane (sequential left-to-right
    fold — same summation order as DuckDB's list_dot_product, so sign
    bits agree bit-for-bit across engines). A per-element expression tree
    (dim × planes nodes) would blow up Catalyst analysis time ~30× —
    measured on the first bench run."""
    bits = []
    for w in planes:
        wlit = F.array(*[F.lit(float(x)) for x in w])
        proj = F.aggregate(
            F.zip_with(vec_col, wlit, lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def query_bucket(query: list[float], planes: list[list[int]]) -> str:
    """Driver-side bucket key of a probe vector (same left-to-right
    summation order as the column/SQL forms, so the bits agree)."""
    return "".join(
        "1" if sum(float(wi) * float(x) for wi, x in zip(w, query)) > 0 else "0"
        for w in planes
    )


def probe_buckets(query: list[float], planes: list[list[int]],
                  n_probe: int = 1) -> list[str]:
    """Deterministic multi-probe sequence: the query's own bucket first,
    then single-bit flips in ascending |projection| (margin) order — the
    standard multi-probe LSH heuristic (flip the least-confident sign
    first; Lv et al., VLDB'07). Single-bit flips only, so
    ``n_probe ≤ len(planes) + 1``. Tie-break (margin, plane index) and
    the left-to-right dot fold match the SQL oracle's derivation, so
    both engines select identical probe sets."""
    projs = [sum(float(wi) * float(x) for wi, x in zip(w, query))
             for w in planes]
    base = "".join("1" if p > 0 else "0" for p in projs)
    buckets = [base]
    for j in sorted(range(len(planes)), key=lambda j: (abs(projs[j]), j)):
        if len(buckets) >= n_probe:
            break
        buckets.append(base[:j] + ("0" if base[j] == "1" else "1") + base[j + 1:])
    return buckets[:n_probe]


def _scored_topk(df: DataFrame, query: list[float], k: int) -> DataFrame:
    qlit = F.array(*[F.lit(float(x)) for x in query])
    qn = float(np.sqrt(np.dot(query, query)))
    return (df.withColumn("cos", F.round(_dot(F.col("v"), qlit)
                                         / (_norm(F.col("v")) * F.lit(qn)), 4))
            .select("id", "cos")
            .orderBy(F.col("cos").desc(), F.col("id"))
            .limit(k))


def lsh_bucket_topk(df: DataFrame, id_col: str, vec_col: str,
                    query: list[float], k: int = 10,
                    n_planes: int = 4, n_probe: int = 1) -> DataFrame:
    """Approximate top-k: restrict the exact scoring to the query's LSH
    bucket(s). → (id, cos). Recall is tested against cosine_topk in the
    suite; more planes ⇒ smaller buckets ⇒ cheaper + lower recall, and
    ``n_probe > 1`` probes margin-ordered neighbor buckets too
    (:func:`probe_buckets`) to buy recall back without touching the
    write layout. Buckets are computed on the fly (full scan) — the
    pre-materialized path is :func:`write_bucketed_embeddings` +
    :func:`bucketed_table_topk`."""
    planes = plane_weights(len(query), n_planes)
    bucketed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                         lsh_bucket_of(F.col(vec_col), planes).alias("bucket"))
    probes = probe_buckets(query, planes, n_probe)
    return _scored_topk(bucketed.filter(F.col("bucket").isin(probes)),
                        query, k)


def write_bucketed_embeddings(df: DataFrame, id_col: str, vec_col: str,
                              path: str, n_planes: int = 4,
                              dim: int | None = None) -> None:
    """Materialize the ANN bucket table: (id, v) written
    ``partitionBy("bucket")`` — the 100 TB path. Bucketing is paid ONCE
    at write; every probe afterwards reads a single partition directory
    (Catalyst partition pruning — ``PartitionFilters`` in the scan),
    i.e. ~N/2^planes rows instead of a full scan."""
    if dim is None:
        dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    planes = plane_weights(dim, n_planes)
    (df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
               lsh_bucket_of(F.col(vec_col), planes).alias("bucket"))
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


# driver-side training samples are collected: a careless caller passing
# millions silently becomes a driver OOM (same idea as cc.py's
# driver_threshold). 100k rows × a 1k-float vector ≈ low-hundreds MB —
# the sane ceiling for the sample-train/distributed-apply pattern.
MAX_TRAIN_SAMPLE = 100_000


def _check_sample_n(op: str, sample_n: int) -> None:
    if sample_n > MAX_TRAIN_SAMPLE:
        raise ValueError(
            f"{op}: sample_n={sample_n} exceeds the driver-side training "
            f"cap {MAX_TRAIN_SAMPLE}; train on a sample — assignment is "
            "the distributed pass")


# --- IVF-style ANN (coarse quantizer + probed list) ------------------------

def ivf_centroids(df: DataFrame, id_col: str, vec_col: str,
                  k_centroids: int = 8, sample_n: int = 256,
                  iters: int = 8, seed: int = LSH_SEED) -> dict[int, list[float]]:
    """Trained coarse quantizer: seeded k-means (k-means++ init + Lloyd)
    over a deterministic sample, centroids rounded to 6 decimals for
    engine portability (the frozen-VALUES oracle embeds them verbatim).

    This is the standard IVF split at corpus scale (what FAISS does):
    the quantizer trains on a small uniform SAMPLE driver-side — at
    100 TB a ``df.sample(...)`` collect of ~1M rows — while ASSIGNMENT
    of the full corpus stays distributed (:func:`ivf_assign`). Here the
    sample is the lowest ``sample_n`` ids so the result is byte-stable
    for the oracle's drift guard."""
    _check_sample_n("ivf_centroids", sample_n)
    # lowest-id prefix via orderBy+limit (deterministic for ANY id space,
    # not just 0-based contiguous ids; identical rows to the former
    # ``id < sample_n`` filter on the standard fixtures)
    rows = (df.select(id_col, vec_col).orderBy(id_col)
            .limit(sample_n).collect())
    x = np.array([[float(v) for v in r[1]] for r in rows], dtype=np.float64)
    if not len(x):  # empty input → no lists (probes return empty)
        return {}
    k = min(k_centroids, len(x))
    rng = np.random.RandomState(seed)
    # k-means++ seeding (deterministic: seeded rng, argmax/argmin ties to
    # the first index)
    centers = [x[int(rng.randint(len(x)))]]
    for _ in range(1, k):
        d2 = np.min([((x - c) ** 2).sum(axis=1) for c in centers], axis=0)
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(x), 1.0 / len(x))
        centers.append(x[int(rng.choice(len(x), p=probs))])
    c = np.array(centers)
    for _ in range(iters):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):  # empty cluster keeps its previous center
                c[j] = members.mean(axis=0)
    c = np.round(c, 6)
    return {j: [float(v) for v in c[j]] for j in range(k)}


def _l2_to(vec_col, clit):
    # |v|² − 2·v·c + |c|² with every dot a left-to-right fold — the same
    # summation order as DuckDB's list_dot_product, so assignments agree
    return (_dot(vec_col, vec_col) - 2 * _dot(vec_col, clit)
            + _dot(clit, clit))


def ivf_assign(df: DataFrame, id_col: str, vec_col: str,
               centroids: dict[int, list[float]]) -> DataFrame:
    """→ (id, v, list_id): nearest centroid by L2, ties to the smallest
    centroid id (array_min over (l2, j) structs — lexicographic)."""
    v = F.col(vec_col)
    structs = []
    for j, c in sorted(centroids.items()):
        clit = F.array(*[F.lit(float(x)) for x in c])
        structs.append(F.struct(_l2_to(v, clit).alias("l2"),
                                F.lit(j).alias("j")))
    best = F.array_min(F.array(*structs))
    return df.select(F.col(id_col).alias("id"), v.alias("v"),
                     best["j"].alias("list_id"))


def probe_lists(query: list[float], centroids: dict[int, list[float]],
                n_probe: int = 1) -> list[int]:
    """Driver-side probe-list selection: the ``n_probe`` centroids
    nearest to the query by L2 (left-to-right sums — same order as the
    column/SQL forms), ties to the smaller list id."""
    def l2_py(c):
        vv = sum(x * x for x in query)
        vc = sum(x * y for x, y in zip(query, c))
        cc = sum(x * x for x in c)
        return vv - 2 * vc + cc

    return sorted(centroids, key=lambda j: (l2_py(centroids[j]), j))[:n_probe]


def ivf_topk(df: DataFrame, id_col: str, vec_col: str, query: list[float],
             k: int = 10, k_centroids: int = 8, n_probe: int = 1) -> DataFrame:
    """IVF probe: score only the ``n_probe`` inverted lists nearest to
    the query — O(n_probe·N/k_centroids) dots instead of O(N). At scale
    the assigned table is materialized partitionBy(list_id)
    (:func:`write_ivf_lists` + :func:`ivf_table_topk`). → (id, cos)."""
    cents = ivf_centroids(df, id_col, vec_col, k_centroids)
    assigned = ivf_assign(df, id_col, vec_col, cents)
    return _scored_topk(
        assigned.filter(F.col("list_id").isin(probe_lists(query, cents, n_probe))),
        query, k)


def write_ivf_lists(df: DataFrame, id_col: str, vec_col: str, path: str,
                    k_centroids: int = 8) -> dict[int, list[float]]:
    """Materialize the IVF index: train the quantizer, assign the full
    set distributed, write (id, v) ``partitionBy("list_id")`` — the
    100 TB layout (assignment paid once; every probe afterwards reads
    only its n_probe list directories via partition pruning). Returns
    the trained centroids (the probe-time 'index metadata' — at scale
    these live next to the table)."""
    cents = ivf_centroids(df, id_col, vec_col, k_centroids)
    (ivf_assign(df, id_col, vec_col, cents)
     .write.mode("overwrite").partitionBy("list_id").parquet(path))
    return cents


def ivf_table_topk(spark, path: str, query: list[float],
                   centroids: dict[int, list[float]], k: int = 10,
                   n_probe: int = 1) -> DataFrame:
    """Probe the materialized IVF table: ``list_id IN (…)`` is a
    partition-column predicate — the scan touches n_probe of k_centroids
    directories, never the full table. → (id, cos)."""
    pruned = (spark.read.parquet(path)
              .filter(F.col("list_id").isin(probe_lists(query, centroids, n_probe))))
    return _scored_topk(pruned, query, k)


def bucketed_table_topk(spark, path: str, query: list[float], k: int = 10,
                        n_planes: int = 4, n_probe: int = 1) -> DataFrame:
    """Probe the materialized bucket table: the ``bucket IN (…)`` filter
    is a partition-column predicate, so the scan touches only the probed
    buckets' directories (``n_probe`` of 2^n_planes) — multi-probe costs
    proportionally more read, never a full scan. → (id, cos)."""
    planes = plane_weights(len(query), n_planes)
    pruned = (spark.read.parquet(path)
              .filter(F.col("bucket").isin(probe_buckets(query, planes, n_probe))))
    return _scored_topk(pruned, query, k)


# --- int8-quantized ANN storage --------------------------------------------

def quantize_embeddings(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """→ (id, qv: array<tinyint>, scale: double): symmetric per-vector
    max-abs int8 quantization (x → round(127·x / max|x|)). The vectors
    are 4× smaller on disk and over every probe scan than float32 (8×
    vs the float64 arrays Spark exchanges) — at 100 TB the ANN bucket
    table's cost is IO, not arithmetic. COSINE IS SCALE-INVARIANT, so
    probes score the int8 arrays directly (no dequantize pass): the
    positive per-vector scale cancels in dot/(|a|·|b|), leaving only
    the rounding error (recall floor asserted in test_dataops).
    ``scale`` is retained for consumers that need magnitudes back
    (e.g. L2 scoring). All-zero vectors keep scale 0 and qv all-zero —
    their cosine is NULL, never in a top-k, same as the float path.

    One Arrow-vectorized stage (numpy) — the engine's >4-folds rule:
    64 per-component JVM fold expressions would cost more in Catalyst
    analysis + codegen than the quantization itself."""
    import pandas as pd

    # id type follows the input schema (string doc ids work — the
    # hard-coded ``id long`` crashed them with an opaque cast error)
    id_type = dict(df.dtypes)[id_col]
    out_schema = f"id {id_type}, qv array<tinyint>, scale double"

    def quant(batches):
        for pdf in batches:
            if not len(pdf):  # empty Arrow batch: np.stack would raise
                continue
            if pdf[vec_col].isna().any():
                bad = pdf.loc[pdf[vec_col].isna(), id_col].head(3).tolist()
                raise ValueError(
                    f"quantize_embeddings: NULL {vec_col!r} for ids {bad}; "
                    "drop or fill NULL vectors before quantizing")
            vs = np.stack([np.asarray(v, dtype=np.float64)
                           for v in pdf[vec_col]])
            mx = np.abs(vs).max(axis=1)
            scale = mx / 127.0
            safe = np.where(scale == 0.0, 1.0, scale)
            q = np.clip(np.rint(vs / safe[:, None]), -127, 127).astype(np.int8)
            yield pd.DataFrame({
                "id": pdf[id_col],
                "qv": [row for row in q],
                "scale": scale,
            })

    return df.select(id_col, vec_col).mapInPandas(quant, out_schema)


def write_quantized_embeddings(df: DataFrame, id_col: str, vec_col: str,
                               path: str, n_planes: int = 4,
                               dim: int | None = None) -> None:
    """Materialize the QUANTIZED ANN bucket table: (id, qv, scale)
    written ``partitionBy("bucket")``. The sign-LSH bucket is computed
    on the ORIGINAL float vector (bit-parity with the probe side's
    float query), so quantization never flips a bucket assignment near
    a hyperplane; only the stored vector is int8."""
    if dim is None:
        dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    planes = plane_weights(dim, n_planes)
    buckets = df.select(F.col(id_col).alias("_bid"),
                        lsh_bucket_of(F.col(vec_col), planes).alias("bucket"))
    (quantize_embeddings(df, id_col, vec_col)
     .join(buckets.withColumnRenamed("_bid", "id"), "id")
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def quantized_table_topk(spark, path: str, query: list[float], k: int = 10,
                         n_planes: int = 4, n_probe: int = 1) -> DataFrame:
    """Probe the int8 bucket table: partition-pruned exactly like
    :func:`bucketed_table_topk` (``bucket IN (…)`` on the partition
    column) but reading quarter-width vectors; scoring is the same JVM
    fold over the tinyint arrays (scale cancels in cosine). → (id, cos)."""
    planes = plane_weights(len(query), n_planes)
    pruned = (spark.read.parquet(path)
              .filter(F.col("bucket").isin(probe_buckets(query, planes, n_probe)))
              .withColumnRenamed("qv", "v"))
    return _scored_topk(pruned, query, k)


# --- product quantization (PQ codes + ADC scoring) -------------------------

def _kmeans(x: "np.ndarray", k: int, iters: int, seed: int) -> "np.ndarray":
    """Seeded k-means++ + Lloyd (same scheme as :func:`ivf_centroids`,
    kept separate so the q39 frozen-centroid oracle's code path stays
    byte-identical). → (k, d) centers."""
    rng = np.random.RandomState(seed)
    centers = [x[int(rng.randint(len(x)))]]
    for _ in range(1, k):
        d2 = np.min([((x - c) ** 2).sum(axis=1) for c in centers], axis=0)
        probs = (d2 / d2.sum() if d2.sum() > 0
                 else np.full(len(x), 1.0 / len(x)))
        centers.append(x[int(rng.choice(len(x), p=probs))])
    c = np.array(centers)
    for _ in range(iters):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
    return c


def _pq_normalize(vs: "np.ndarray") -> "np.ndarray":
    """L2-normalize rows; zero vectors stay zero (their ADC score is 0,
    never in a top-k — matching the float path's NULL-cosine rule)."""
    n = np.linalg.norm(vs, axis=1, keepdims=True)
    return vs / np.where(n == 0.0, 1.0, n)


def pq_train(df: DataFrame, id_col: str, vec_col: str,
             m: int = 16, k_codes: int = 64, sample_n: int = 256,
             iters: int = 8, seed: int = LSH_SEED) -> "np.ndarray":
    """Product-quantization codebooks (Jégou et al., TPAMI'11): split
    the L2-NORMALIZED vector into ``m`` contiguous subvectors and train
    an independent ``k_codes``-center k-means per subspace — the
    compression tier below int8 (:func:`quantize_embeddings`): a d=64
    float32 vector (256 B) becomes ``m`` code bytes (16 B at the
    default m=16 — 16× less scan IO), scored WITHOUT decompression via
    ADC lookup tables.

    Same sample-train/distributed-apply split as :func:`ivf_centroids`
    (and the BPE learner): codebooks converge on a driver-side sample
    (lowest ``sample_n`` ids — deterministic, engine-portable); only
    encoding touches the full corpus. Normalizing first makes the ADC
    inner product approximate COSINE, the engine's metric everywhere.
    → (m, k_codes, d/m) float64 array, centers rounded to 6 dp.
    Requires d divisible by m.

    Default geometry (m=16 × 64 centers over d=64): the synthetic
    fixture's embeddings are ISOTROPIC — PQ's worst case (measured on
    it: ADC/cosine corr 0.91, top-10 overlap 6/10 at 16×; the coarser
    m=8×16 managed corr 0.60) — so the defaults favor many small
    subspaces. Real text embeddings concentrate on low-dimensional
    structure and quantize far better at the same geometry; exact
    re-ranking of the ADC candidate set is the standard refinement
    either way (pq_adc_topk docstring)."""
    _check_sample_n("pq_train", sample_n)
    rows = (df.select(id_col, vec_col).orderBy(id_col)
            .limit(sample_n).collect())
    x = np.array([[float(v) for v in r[1]] for r in rows], dtype=np.float64)
    if not len(x):
        return np.zeros((m, 0, 0))
    d = x.shape[1]
    if d % m:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    if k_codes > 127:
        # codes are stored tinyint; 128+ would wrap negative in
        # pq_encode's int8 cast and element_at would silently read
        # from the END of the ADC table
        raise ValueError(f"pq_train: k_codes={k_codes} exceeds the "
                         f"tinyint code range (max 127)")
    x = _pq_normalize(x)
    sub = d // m
    books = []
    for j in range(m):
        xs = x[:, j * sub:(j + 1) * sub]
        k = min(k_codes, len(xs))
        books.append(np.round(_kmeans(xs, k, iters, seed + j), 6))
    return np.stack(books)


def pq_encode(df: DataFrame, id_col: str, vec_col: str,
              codebooks: "np.ndarray") -> DataFrame:
    """→ (id, codes: array<tinyint>): per subspace, the index of the
    nearest codebook center to the normalized subvector. One Arrow
    stage (numpy argmin over (batch, k) distance matrices per
    subspace); codes fit tinyint for k_codes ≤ 127."""
    import pandas as pd

    m, k, sub = codebooks.shape
    id_type = dict(df.dtypes)[id_col]  # string ids work (see quantize)

    def enc(batches):
        for pdf in batches:
            if not len(pdf):  # empty Arrow batch: np.stack would raise
                continue
            if pdf[vec_col].isna().any():
                bad = pdf.loc[pdf[vec_col].isna(), id_col].head(3).tolist()
                raise ValueError(
                    f"pq_encode: NULL {vec_col!r} for ids {bad}; drop or "
                    "fill NULL vectors before encoding")
            vs = _pq_normalize(np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]))
            codes = np.empty((len(vs), m), dtype=np.int8)
            for j in range(m):
                xs = vs[:, j * sub:(j + 1) * sub]
                d2 = ((xs[:, None, :] - codebooks[j][None, :, :]) ** 2
                      ).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1).astype(np.int8)
            yield pd.DataFrame({"id": pdf[id_col],
                                "codes": [row for row in codes]})

    return (df.select(id_col, vec_col)
            .mapInPandas(enc, f"id {id_type}, codes array<tinyint>"))


def pq_adc_topk(codes_df: DataFrame, query: list[float],
                codebooks: "np.ndarray", k: int = 10) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ codes table: the query
    stays FLOAT; per subspace a k_codes-entry inner-product lookup
    table <q_sub, center> is built driver-side and rides the plan as
    literals, so scoring is ``m`` array lookups + adds per row — one
    codegen'd JVM expression over the tinyint codes, no Python stage
    and no decompression. Scores approximate cosine (normalized-space
    inner product); exact re-ranking of the ADC top candidates against
    float vectors is the standard refinement when needed.
    → (id, adc), TakeOrdered k."""
    m, kc, sub = codebooks.shape
    q = _pq_normalize(np.asarray(query, dtype=np.float64)[None, :])[0]
    score = F.lit(0.0)
    for j in range(m):
        table = codebooks[j] @ q[j * sub:(j + 1) * sub]
        tlit = F.array(*[F.lit(round(float(t), 6)) for t in table])
        # codes are 0-based; element_at is 1-based (ANSI-safe: codes
        # come from argmin over the same codebook, never out of range)
        score = score + F.element_at(
            tlit, F.col("codes").getItem(j).cast("int") + F.lit(1))
    return (codes_df.select("id", F.round(score, 6).alias("adc"))
            .orderBy(F.col("adc").desc(), "id").limit(k))


def write_pq_codes(df: DataFrame, id_col: str, vec_col: str, path: str,
                   codebooks: "np.ndarray", n_planes: int = 4,
                   dim: int | None = None) -> None:
    """Materialize the LSH-bucketed PQ table: (id, codes) written
    ``partitionBy("bucket")`` with the bucket computed on the ORIGINAL
    float vector (same rule as :func:`write_quantized_embeddings`).
    Probes then compose BOTH scale levers: partition pruning cuts the
    scanned rows to the probed buckets, PQ cuts the bytes per scanned
    row (16× at the defaults) — and the codebooks (m·k_codes·d/m floats, KBs) ship in
    the plan, nothing joins."""
    if dim is None:
        dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    planes = plane_weights(dim, n_planes)
    buckets = df.select(F.col(id_col).alias("id"),
                        lsh_bucket_of(F.col(vec_col), planes).alias("bucket"))
    (pq_encode(df, id_col, vec_col, codebooks)
     .join(buckets, "id")
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def pq_table_topk(spark, path: str, query: list[float],
                  codebooks: "np.ndarray", k: int = 10,
                  n_planes: int = 4, n_probe: int = 1) -> DataFrame:
    """Probe the bucketed PQ table: bucket IN (probes) partition
    pruning, then ADC scoring of the surviving code rows. → (id, adc)."""
    planes = plane_weights(len(query), n_planes)
    pruned = (spark.read.parquet(path)
              .filter(F.col("bucket").isin(probe_buckets(query, planes,
                                                         n_probe))))
    return pq_adc_topk(pruned, query, codebooks, k)
