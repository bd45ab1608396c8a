"""Incremental (cross-batch) NEAR-duplicate deduplication.

streaming/ingest.py's ``dedup_watermark`` gate drops EXACT cross-batch
replays (content-hash state in the streaming checkpoint). Near-dups —
re-crawled pages with a changed footer, re-exported docs with new
timestamps — survive it, and a growing corpus accretes them batch by
batch. This module is the incremental form of the batch MinHash-LSH
path (operators/dedupe.minhash_lsh_pairs): each micro-batch's band
signatures are checked against a persistent BAND STORE of everything
SEEN so far; colliding docs are dropped, and the batch's bands — of
admitted AND dropped docs — are appended.

Semantics — candidate-level (blocking-only) dedup: a doc is dropped
when its connected component (over within-batch band-collision edges)
contains any doc sharing a (band, band_sig) bucket with the store.
That reproduces the batch path's pairs→CC→min-survivor composition
(q37/q41) transitively: if A collides with stored S and B collides
with A, BOTH are dropped even though B never touches S's bands —
exactly what batch CC over {S, A, B} would do. Storing dropped docs'
bands keeps the same guarantee ACROSS batches (a later near-dup of the
dropped A is still caught). This is the LSH candidate test WITHOUT the
exact-Jaccard verify step the batch path runs, because verification
against history would require storing every seen doc's shingle set —
O(corpus tokens) state instead of O(corpus × bands) rows. Tune
precision/recall with (n, k, bands) exactly as in minhash_lsh_pairs;
dropping on candidacy is the conservative direction for curation.

Docs that produce NO bands (fewer than ``n`` tokens, empty or NULL
text) cannot collide with anything and are ALWAYS admitted — the same
too-short-is-clean rule as piiscan.near_contamination_gate; without it
the final survivor join would silently delete them (the NULL-contract
bug class plans/curation.py's _NULL_FP sentinel documents).

State layout (100 TB shape): the band store is parquet partitioned by
``epoch``; a batch joins against it shuffle-on-(band, band_sig) — no
broadcast assumption, the store grows with the corpus — and appends
its bands by OVERWRITING its own epoch partition (dynamic partition
overwrite). Replays are therefore idempotent: the store read EXCLUDES
the current epoch, so a half-written epoch from a crashed attempt
neither suppresses its own replay nor double-counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cc import connected_components
from ..operators.dedupe import band_signatures
from ..session import local_frame

BAND_STORE_SCHEMA = "band int, band_sig string, epoch long"

# epoch label of the compacted-history partition: strictly negative so it
# can never equal a real foreachBatch epoch_id — the per-batch store read
# (``epoch != epoch_id``) therefore always includes compacted history,
# and re-compaction folds the previous compacted partition in with the
# newly committed epochs (epoch <= upto_epoch matches -1 too).
COMPACTED_EPOCH = -1


def read_band_store(spark: SparkSession, path: str) -> DataFrame:
    """Missing-store probe via the read itself, not a driver-side
    os.path check: on HDFS/S3 paths ``os.path.exists`` is always False,
    which would silently read every store as empty and turn the gate
    into a no-op. A failed parquet read (path not found) IS the empty
    store."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return local_frame(spark, [], BAND_STORE_SCHEMA)


def compact_band_store(spark: SparkSession, path: str, upto_epoch: int,
                       n_files: int = 1) -> None:
    """Periodic band-store compaction (the round-5 scale gap): rewrite
    every epoch partition ≤ ``upto_epoch`` — including a previous
    compacted partition — as ONE distinct ``epoch=-1`` partition, and
    keep newer epochs as they are. Without it every micro-batch re-reads
    the FULL epoch-partitioned history and ``distinct()``s it: bands
    duplicated across epochs are re-deduplicated on every batch and the
    per-batch shuffle grows with corpus history; after compaction the
    history side of the join is one pre-deduplicated partition plus the
    recent epochs (the streaming/checkpoint.compact_buckets pattern
    applied to the gate's state).

    Safety contract: ``upto_epoch`` must be strictly below any epoch
    that can still REPLAY (i.e. below the stream's current epoch).
    foreachBatch commits epochs in order, so when epoch E is running,
    E-1 and older are committed — :func:`near_dedup_batch_writer`
    passes ``epoch_id - 1``. Compacting the CURRENT epoch would merge
    its bands into history and make its own replay suppress itself
    (the exact self-collision the per-epoch layout exists to prevent).

    The rewrite goes through a temp directory and a filesystem-level
    swap (Hadoop FileSystem API — works on HDFS; on S3 the rename is a
    copy, in which case prefer a store path indirection). ``n_files``
    sizes the compacted partition's file count — 1 at test scale;
    production callers size it to ~store_bytes/128 MB (guide: output
    files in the 128 MB-1 GB range)."""
    store = read_band_store(spark, path)
    if "epoch" not in store.columns:  # empty/missing store: nothing to do
        return
    old = store.filter(F.col("epoch") <= upto_epoch)
    recent = store.filter(F.col("epoch") > upto_epoch)
    compacted = (old.select("band", "band_sig").distinct()
                 .coalesce(max(1, n_files))
                 .withColumn("epoch",
                             F.lit(COMPACTED_EPOCH).cast("long")))
    new_store = compacted.unionByName(
        recent.select("band", "band_sig", F.col("epoch").cast("long")))
    tmp = path.rstrip("/") + "__compacting"
    new_store.write.mode("overwrite").partitionBy("epoch").parquet(tmp)
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    htmp = jvm.org.apache.hadoop.fs.Path(tmp)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(hpath, True)
    fs.rename(htmp, hpath)


def incremental_near_dedup(spark: SparkSession, batch_df: DataFrame,
                           id_col: str, text_col: str,
                           band_store_dir: str, epoch_id: int,
                           n: int = 3, k: int = 8, bands: int = 4,
                           checkpoint_dir: str | None = None) -> DataFrame:
    """Admit the subset of ``batch_df`` that is not (transitively) a
    near-duplicate of any previously seen doc or of a smaller-id doc in
    the same batch (module docstring for the exact semantics); persist
    the batch's band signatures under ``epoch=epoch_id``; return the
    surviving rows with the input schema. Band-less docs (< ``n``
    tokens) are admitted untouched.

    Designed as the body of a ``foreachBatch`` writer
    (:func:`near_dedup_batch_writer`) but callable directly for
    batch-at-a-time incremental jobs. RETURNS AN EAGER RESULT: the
    survivor decision is frozen (localCheckpoint) before the band-store
    write, so callers can write it without recomputing the LSH plan and
    a lazy plan cannot race the store overwrite. ``checkpoint_dir``
    feeds :func:`connected_components` (reliable checkpoints on a real
    cluster; default executor-local)."""
    bnd = band_signatures(batch_df, id_col, text_col, n, k, bands)
    bnd = bnd.localCheckpoint(eager=True)  # minhash once, consumed 4×
    banded_ids = bnd.select("id").distinct()
    bandless = batch_df.join(
        banded_ids.withColumnRenamed("id", id_col).select(id_col),
        id_col, "left_anti")
    prior = (read_band_store(spark, band_store_dir)
             .filter(F.col("epoch") != epoch_id)
             .select("band", "band_sig").distinct())
    hit = bnd.join(prior, ["band", "band_sig"]).select("id").distinct()
    # edges over ALL banded docs — including store-hit ones, so chains
    # through a dropped doc still connect (A~store, B~A ⇒ B dropped)
    edges = (bnd.select(F.col("id").alias("src"), "band", "band_sig")
             .join(bnd.select(F.col("id").alias("dst"), "band", "band_sig"),
                   ["band", "band_sig"])
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    comp = connected_components(edges, checkpoint_dir=checkpoint_dir)
    membership = (banded_ids
                  .join(comp, banded_ids["id"] == comp["member"], "left")
                  .select(banded_ids["id"],
                          F.coalesce(comp["canonical"], banded_ids["id"])
                          .alias("comp_id")))
    infected = (membership.join(hit, "id")
                .select("comp_id").distinct())
    # freeze the survivor decision BEFORE touching the store: the band
    # write below overwrites this epoch's partition, and a lazy plan
    # re-reading the store afterwards would race its own output
    survivor_ids = (membership.join(infected, "comp_id", "left_anti")
                    .groupBy("comp_id").agg(F.min("id").alias("id"))
                    .select("id")
                    .localCheckpoint(eager=True))
    (bnd.select("band", "band_sig",
                F.lit(epoch_id).cast("long").alias("epoch"))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("epoch").parquet(band_store_dir))
    admitted = batch_df.join(survivor_ids.withColumnRenamed("id", id_col)
                             .select(id_col), id_col)
    return admitted.unionByName(bandless)


def near_dedup_batch_writer(spark: SparkSession, id_col: str, text_col: str,
                            out_path: str, band_store_dir: str,
                            n: int = 3, k: int = 8, bands: int = 4,
                            compact_every: int | None = None):
    """foreachBatch body: gate the micro-batch through
    :func:`incremental_near_dedup` (epoch = Spark's ``epoch_id``, so a
    replayed batch overwrites its own band partition and appends the
    same survivors), append survivors to ``out_path``::

        (stream.writeStream
            .foreachBatch(near_dedup_batch_writer(spark, "doc_id",
                                                  "text", out, store))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())

    Output append is not atomic with the store overwrite (standard
    foreachBatch at-least-once); exactly-once output needs the sink
    side keyed by (epoch, id) — e.g. partitionBy an ``_epoch`` column
    with the same dynamic-overwrite trick, which is what this writer
    does.

    ``compact_every=N`` folds committed history (epochs < the one just
    written) into the single ``epoch=-1`` partition every N epochs via
    :func:`compact_band_store` — without it the per-batch history join
    re-reads and re-distincts every epoch ever written."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        kept = incremental_near_dedup(spark, batch_df, id_col, text_col,
                                      band_store_dir, epoch_id,
                                      n=n, k=k, bands=bands)
        (kept.withColumn("_epoch", F.lit(epoch_id).cast("long"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_epoch").parquet(out_path))
        if (compact_every is not None and epoch_id > 0
                and epoch_id % compact_every == 0):
            # only committed epochs (< epoch_id) — the running epoch may
            # still replay and must keep its own partition (see
            # compact_band_store's safety contract)
            compact_band_store(spark, band_store_dir, epoch_id - 1)

    return write
