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
IVF_ITERS = 8  # Lloyd iterations of the IVF quantizer


def plane_weights(dim: int, n_planes: int) -> list[list[int]]:
    """Deterministic integer hyperplane weights in [-8, 8] (seeded)."""
    rng = np.random.RandomState(LSH_SEED)
    return rng.randint(-8, 9, size=(n_planes, dim)).tolist()


def _dot(va, vb):
    return F.aggregate(F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _scored_topk(df: DataFrame, query: list[float], k: int) -> DataFrame:
    """(id, v) → (id, cos) top-k by cosine to ``query``, id tiebreak."""
    qlit = F.array(*[F.lit(float(x)) for x in query])
    qn = float(np.sqrt(np.dot(query, query)))
    return (df.withColumn("cos", F.round(_dot(F.col("v"), qlit)
                                         / (_norm(F.col("v")) * F.lit(qn)), 4))
            .select("id", "cos")
            .orderBy(F.col("cos").desc(), F.col("id"))
            .limit(k))


def cosine_topk(df: DataFrame, id_col: str, vec_col: str,
                query: list[float], k: int = 10) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``:
    → (id, cos) ordered desc, id tiebreak."""
    return _scored_topk(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), query, k)


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


def lsh_bucket_topk(df: DataFrame, id_col: str, vec_col: str,
                    query: list[float], k: int = 10,
                    n_planes: int = 4) -> DataFrame:
    """Approximate top-k: restrict the exact scoring to the query's LSH
    bucket. → (id, cos). Recall is tested against cosine_topk in the
    suite; more planes ⇒ smaller buckets ⇒ cheaper + lower recall.
    Buckets are computed on the fly (full scan) — the pre-materialized
    path, with multi-probe, is :func:`write_bucketed_embeddings` +
    :func:`bucketed_table_topk`."""
    planes = plane_weights(len(query), n_planes)
    bucketed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                         lsh_bucket_of(F.col(vec_col), planes).alias("bucket"))
    probes = probe_buckets(query, planes)
    return _scored_topk(bucketed.filter(F.col("bucket").isin(probes)),
                        query, k)


def write_bucketed_embeddings(df: DataFrame, id_col: str, vec_col: str,
                              path: str, n_planes: int = 4) -> None:
    """Materialize the ANN bucket table: (id, v) written
    ``partitionBy("bucket")`` — the 100 TB path. Bucketing is paid ONCE
    at write; every probe afterwards reads a single partition directory
    (Catalyst partition pruning — ``PartitionFilters`` in the scan),
    i.e. ~N/2^planes rows instead of a full scan."""
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
                  k_centroids: int = 8,
                  sample_n: int = 256) -> dict[int, list[float]]:
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
    rng = np.random.RandomState(LSH_SEED)
    # k-means++ seeding (deterministic: seeded rng, argmax/argmin ties to
    # the first index)
    centers = [x[int(rng.randint(len(x)))]]
    for _ in range(1, k):
        d2 = np.min([((x - c) ** 2).sum(axis=1) for c in centers], axis=0)
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(x), 1.0 / len(x))
        centers.append(x[int(rng.choice(len(x), p=probs))])
    c = np.array(centers)
    for _ in range(IVF_ITERS):
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
