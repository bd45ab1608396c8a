"""Canonicalization stage: rewrite IRI objects, drop bad triples, emit
owl:sameAs alias edges.

All JVM-side Catalyst expressions (one WholeStageCodegen span over the
extraction output — no shuffle, no Python):

* IRI objects run through the alias-resolution rule chain
  (:func:`..functions.uri.canonicalize_col` — the reference's normalize
  sed dictionary, JACQ.sh:359-375, 833-845),
* empty-literal triples dropped (P4 — JACQ.sh:360),
* technical ``?format=`` mentions dropped (P5 — Finland.sh:422-428),
* where the rewrite changed the IRI, an ``(alias, owl:sameAs, canonical)``
  triple is emitted into the graph table. The rewrite itself is the
  canonical ID: the KG path has no connected-components step (one pass
  of the rule chain, as the reference's sed dictionary applies it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data import vocab as V
from ..functions.extraction_rules import OWL_SAMEAS
from ..functions.uri import canonicalize_col

TECHNICAL_URL = r"[?&]format="


def annotate_canonical(raw: DataFrame) -> DataFrame:
    """raw triples + ``obj_canon`` column (the rewritten IRI, or the
    literal unchanged). This is THE regexp pass — materialize its output
    before fanning out so the rule chain runs exactly once per row;
    re-executing it per downstream branch was the pipeline's top CPU
    sink (measured 2.2k CPU-seconds at 310k-turn scale).

    P19 retype first (JACQ.sh:846-855): a URL-valued ``associatedMedia``
    LITERAL flips to an IRI object, so the alias rules apply to it too."""
    retyped = F.col("obj_is_iri") | (
        (F.col("pred") == V.P_ASSOCIATED_MEDIA)
        & (F.col("obj").startswith("http://") | F.col("obj").startswith("https://")))
    raw = raw.withColumn("obj_is_iri", retyped)
    return raw.withColumn(
        "obj_canon",
        F.when(F.col("obj_is_iri"), canonicalize_col(F.col("obj"))).otherwise(F.col("obj")),
    ).withColumn(
        # P5 flag precomputed here for the same reason — every downstream
        # branch filters on it. The regex [?&]format= is EXACTLY two
        # literal substrings, so two codegen'd contains replace the
        # regex-matcher pass (round 6: 0.084 → 0.064 s per 2M URLs,
        # identical truth table; TECHNICAL_URL stays the documented rule)
        "is_technical",
        F.col("obj_is_iri") & (F.col("obj_canon").contains("?format=")
                               | F.col("obj_canon").contains("&format=")),
    )


def stage_section_col() -> "F.Column":
    """Partition key for the materialized stage table: ``'m'`` = rows the
    entity branches read (mentions / rdf:type / collectionCode /
    recordedBy — linking, event flags, enrichment), ``'a'`` = other rows
    that can emit owl:sameAs edges (alias rewrites), ``'o'`` = the rest.
    Written ``partitionBy("sect")`` so the 6 downstream scans that need
    only the entity/alias subsets prune to their partitions instead of
    re-decoding the full stream (~28% of rows carry ~6 of 8 scans —
    measured 8 full scans → 17 s of a 22 s downstream at 96k convs on 8
    cores before this)."""
    from ..functions.extraction_rules import P_COLLECTION_CODE

    ent_preds = [V.P_MENTIONS, V.RDF_TYPE, P_COLLECTION_CODE, V.P_RECORDED_BY]
    is_alias = F.col("obj_is_iri") & (F.col("obj") != F.col("obj_canon"))
    return (F.when(F.col("pred").isin(ent_preds), "m")
            .when(is_alias, "a").otherwise("o"))


def split_canonical(with_canon: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(canonical_triples, sameas_triples) from an annotated frame —
    filters and renames only, no regexp re-execution (the technical-URL
    drop is the one remaining rlike)."""

    kept = (
        with_canon
        # P4: empty-literal drop
        .filter(F.col("obj_is_iri") | (F.col("obj") != ""))
        # P5: technical-URL mention drop (record-level in the reference —
        # the subject there is the specimen URI, i.e. our entity; dropping
        # the mention means the entity never exists downstream)
        .filter(~F.col("is_technical"))
    )

    canonical = kept.select(
        "conv_id", "subj", "pred",
        F.col("obj_canon").alias("obj"), "obj_is_iri",
    )

    sameas = (
        with_canon
        .filter(F.col("obj_is_iri") & (F.col("obj") != F.col("obj_canon"))
                & ~F.col("is_technical"))
        .select(
            "conv_id",
            F.col("obj").alias("subj"),
            F.lit(OWL_SAMEAS).alias("pred"),
            F.col("obj_canon").alias("obj"),
            F.lit(True).alias("obj_is_iri"),
        )
    )
    return canonical, sameas
