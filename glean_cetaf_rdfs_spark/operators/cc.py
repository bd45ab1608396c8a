"""Connected components over the alias/link edge graph — canonical-ID
resolution by union-find, as iterative DataFrame joins.

The reference collapses alias spellings to one canonical URI with ordered
sed rewrites (JACQ.sh:362-367); at engine scale the alias graph is data
(owl:sameAs edges from the canonicalize stage, seeded alias fixtures), so
canonicalization becomes connected components: every member of a component
maps to the component's lexicographic minimum.

Algorithm: the alternating large-star / small-star method of Kiveris et
al., "Connected Components in MapReduce and Beyond" (SOCC'14) — public
algorithm, implemented here directly on DataFrames:

* large-star: each node links its *larger* neighbors to its minimum
  neighbor (or itself),
* small-star: each node links its *smaller-or-equal* neighbors to the
  overall minimum.

Converges in O(log²) rounds; every round is two hash aggregations + a
join, all on the (shrinking) edge set. ``localCheckpoint`` truncates the
lineage each round so the plan doesn't grow exponentially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def _dedup(e: DataFrame) -> DataFrame:
    return e.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (sym.groupBy("src").agg(F.min("dst").alias("mn"))
            .select("src", F.least("mn", F.col("src")).alias("m")))
    return (sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst")))


def _small_star(e: DataFrame) -> DataFrame:
    directed = e.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    relink = (directed.join(mins, "src")
              .select(F.col("dst").alias("src"), F.col("m").alias("dst")))
    self_link = mins.select(F.col("src"), F.col("m").alias("dst"))
    return relink.unionByName(self_link)


def _signature(e: DataFrame) -> tuple[int, int]:
    # bit_xor: order-independent, overflow-free (ANSI-safe) set fingerprint;
    # the edge set is distinct so xor cancellation can't collide dup rows
    row = e.agg(F.count(F.lit(1)).alias("n"),
                F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"])


def _cc_driver(e: DataFrame, rows: list) -> DataFrame:
    """Exact union-find on a driver-collected edge set — the small-graph
    fast path of :func:`connected_components`. Union-by-min + path
    compression, so every root is its component's minimum (the same
    canonical the distributed fixpoint produces). ``rows`` are the edges
    the threshold probe already collected, so the whole fast path costs
    one Spark job."""
    from pyspark.sql.types import StructField, StructType

    spark = e.sparkSession
    ft = e.schema["src"].dataType
    schema = StructType([StructField("member", ft),
                         StructField("canonical", ft)])
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ra, rb = find(row["src"]), find(row["dst"])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = set(parent)
    nodes.update(find(x) for x in list(parent))
    mapping = [(x, find(x)) for x in sorted(nodes)]
    return local_frame(spark, mapping, schema)


# star-round cap: the fixpoint converges in O(log²) rounds
MAX_ROUNDS = 25


def connected_components(edges: DataFrame,
                         checkpoint_dir: str | None = None,
                         driver_threshold: int = 200_000) -> DataFrame:
    """edges(src, dst) → (member, canonical) with canonical = component min.

    Raises if not converged within ``MAX_ROUNDS`` rounds (the reference's
    fixpoint sed loops get the same bounded-iteration treatment,
    SURVEY.md §7 "fixpoint encoders").

    Scale-adaptive: a ``limit(driver_threshold+1)`` probe of the
    checkpointed edge set decides the path — when it returns ≤
    ``driver_threshold`` rows those rows ARE the deduped edge set and
    the components come from an exact driver-side union-find
    (:func:`_cc_driver` — identical output, one post-checkpoint job)
    instead of the star rounds. Post-blocking candidate graphs are SPARSE — at bench
    scale the distributed fixpoint spent ~10 fixed-overhead Spark jobs
    resolving a few hundred edges, ~2 s of pure scheduling. 200k edges
    collect in tens of MB; at corpus scale the signature exceeds the
    threshold and the Kiveris rounds run unchanged (pass
    ``driver_threshold=0`` to force them, as the A/B test does).

    Lineage truncation per round: ``checkpoint_dir=None`` (default) uses
    ``localCheckpoint`` — executor-local blocks, right for local mode and
    short jobs. On a real cluster pass a reliable ``checkpoint_dir``
    (HDFS/object store): localCheckpoint blocks die with their executor,
    and a truncated plan cannot be recomputed — one lost executor then
    kills the whole iteration.

    Checkpoint files are NOT auto-deleted by Spark; on a cluster either
    set ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` or
    remove the per-context subdir of ``checkpoint_dir`` after the job —
    each call leaves O(rounds × edge-set) files behind otherwise.
    """
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        # setCheckpointDir appends a per-context uuid subdir, so set once
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.localCheckpoint() if checkpoint_dir is None else df.checkpoint()

    e = _ckpt(_dedup(edges))
    # threshold probe: limit(t+1).collect() over the CHECKPOINTED edge
    # blocks — when ≤ t rows come back, that IS the whole edge set and
    # the driver union-find runs on it directly, so the fast path costs
    # one post-checkpoint job instead of three (the former
    # signature-aggregate job + a separate full collect). Over-threshold
    # graphs pay one cheap truncated scan of local blocks, then the
    # star rounds run exactly as before.
    probe = e.limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        return _cc_driver(e, rows=probe)
    prev = _signature(e)
    for _ in range(MAX_ROUNDS):
        e = _ckpt(_dedup(_small_star(_large_star(e))))
        sig = _signature(e)
        if sig == prev:
            break
        prev = sig
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {MAX_ROUNDS} rounds")

    # converged edge set is a star forest: (member → root). Roots map to
    # themselves so every component member appears exactly once.
    members = e.select(F.col("src").alias("member"), F.col("dst").alias("canonical"))
    roots = e.select(F.col("dst").alias("member"),
                     F.col("dst").alias("canonical")).distinct()
    return members.unionByName(roots).distinct()
