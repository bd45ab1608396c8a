"""PII and benchmark-contamination scanning — the curation gates a
training-data pipeline runs before any corpus ships: per-document span
counts for PII-shaped patterns (emails, phone numbers, IP addresses),
literal-canary contamination counts (n-gram overlap with held-out eval
sets), and a quarantine-style gate mirroring the S4 input gate
(sources/readers.gate_well_formed; reference MIME gate,
fixRDF_before_validate.sh:287,319-334 — same split-count-quarantine
shape, applied to content instead of format).

Everything is built-in JVM expressions (``regexp_extract_all`` /
``replace`` / ``length``) — codegen'd, no Python stage, no shuffle
until the caller aggregates. Patterns are written in the common subset
of Java regex (Spark) and RE2 (DuckDB) so every query here carries a
full cross-engine oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Default PII patterns — deliberately simple span shapes (the point is
# the operator plumbing and counts; production swaps in its own rules).
# Common Java-regex / RE2 subset: \b \d char-classes only.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+\d{1,3}-\d{3}-\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def _span_count(text_col: str, rx: str):
    """Codegen'd span count for one pattern; NULL text counts as 0 (a
    NULL would otherwise propagate through size() and make gates drop
    the row from BOTH sides of a split)."""
    return F.size(F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(rx), F.lit(0)))


def pii_scan(df: DataFrame, id_col: str, text_col: str,
             patterns: dict[str, str] | None = None) -> DataFrame:
    """Per-doc PII span counts, one column per pattern plus a total:
    → (id, n_<name>..., n_pii). Vectorized ``regexp_extract_all``;
    each pattern is one codegen'd expression over the same scan.
    ``patterns={}`` means scan for nothing (all zeros); only ``None``
    selects the defaults."""
    pats = PII_PATTERNS if patterns is None else patterns
    counts = [
        _span_count(text_col, rx).alias(f"n_{name}")
        for name, rx in pats.items()
    ]
    out = df.select(F.col(id_col).alias("id"), *counts)
    total = sum((F.col(f"n_{name}") for name in pats),
                F.lit(0)).alias("n_pii")
    return out.select("id", *[f"n_{n}" for n in pats], total)


def _literal_hits(text_col: Column, canary: str) -> Column:
    """Occurrence count of a literal canary phrase: length difference
    divided by phrase length — pure integer math, identical in any
    engine (no regex escaping concerns for arbitrary phrases). NULL
    text counts as 0."""
    t = F.coalesce(text_col, F.lit(""))
    return ((F.length(t)
             - F.length(F.replace(t, F.lit(canary), F.lit(""))))
            / len(canary)).cast("long")


def contamination_scan(df: DataFrame, id_col: str, text_col: str,
                       canaries: list[str]) -> DataFrame:
    """Per-doc benchmark-contamination count: total occurrences of any
    canary phrase (the literal n-gram overlap check pipelines run
    against eval-set shingles). → (id, n_canary_hits). The canary list
    rides the plan as literals — at real scale (millions of shingles)
    swap to a broadcast join against the eval-shingle table, same
    contract — ``contamination_scan_table`` below IS that swap.
    Empty/whitespace-only canaries are rejected: an empty phrase
    divides by len 0, which under non-ANSI Spark silently NULLs
    ``n_canary_hits`` for every row instead of failing."""
    for c in canaries:
        if not c.strip():
            raise ValueError(
                f"contamination_scan: empty or whitespace-only canary "
                f"{c!r}")
    text = F.col(text_col)
    total = sum((_literal_hits(text, c) for c in canaries),
                F.lit(0).cast("long"))
    return df.select(F.col(id_col).alias("id"),
                     total.alias("n_canary_hits"))


def contamination_scan_table(df: DataFrame, id_col: str, text_col: str,
                             eval_shingles: DataFrame,
                             shingle_col: str = "sh",
                             k: int = 2) -> DataFrame:
    """The contamination scan's 100 TB shape: per-doc counts of
    TOKEN-ALIGNED occurrences of held-out eval-set shingles, via a
    broadcast join of the corpus k-shingle position table
    (operators/spandedup.shingle_positions — posexplode + lead windows,
    no interpreted HOFs) against the eval-shingle table. Use this when
    the eval set is too large to ride the plan as literals
    (``contamination_scan``'s contract documents the cutover); an
    eval-shingle table of millions of rows still broadcasts in tens of
    MB. → (id, n_canary_hits), zero-count docs included.

    Every phrase in ``eval_shingles`` must be exactly ``k``
    space-joined tokens (one shingle width per call — union calls for
    mixed widths). Counts are token-aligned, so they can differ from
    ``contamination_scan``'s raw-substring counts on punctuation-glued
    text ("merge batch," does not match token-aligned "merge batch");
    for whitespace-clean corpora the two agree
    (test_contamination_table_matches_literal_path)."""
    from .spandedup import shingle_positions

    wanted = (eval_shingles
              .select(F.col(shingle_col).alias("sh"))
              .filter(F.size(F.split(F.col("sh"), " ")) == k)
              .distinct())
    pos = shingle_positions(df, id_col, text_col, k)
    hits = (pos.join(F.broadcast(wanted), "sh")
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_canary_hits")))
    ids = df.select(F.col(id_col).alias("id"))
    return (ids.join(hits, "id", "left")
            .fillna(0, ["n_canary_hits"]))


def pii_gate(df: DataFrame, text_col: str,
             patterns: dict[str, str] | None = None,
             max_hits: int = 0) -> tuple[DataFrame, DataFrame]:
    """Split (clean, quarantined) on total PII hits > ``max_hits`` —
    the content analog of the S4 format gate, same contract: both sides
    keep the input schema and ``clean ∪ quarantined = input`` exactly
    (NULL text counts as 0 hits → clean; without the coalesce a NULL
    total would fail BOTH predicates and silently drop the row from
    both sides). ``patterns={}`` disables every rule (everything
    clean); only ``None`` selects the defaults. The scan expression is
    inlined into both predicates so each side is a single
    pushdown-friendly filtered scan."""
    pats = PII_PATTERNS if patterns is None else patterns
    total = sum((_span_count(text_col, rx) for rx in pats.values()),
                F.lit(0))
    return (df.filter(total <= max_hits), df.filter(total > max_hits))


def contamination_gate(df: DataFrame, id_col: str, text_col: str,
                       canaries: list[str] | None = None,
                       eval_shingles: DataFrame | None = None,
                       max_hits: int = 0) -> tuple[DataFrame, DataFrame]:
    """Split (clean, contaminated) on benchmark-contamination hits >
    ``max_hits`` — the gate completing the scan→gate symmetry the PII
    family already has (:func:`pii_scan` / :func:`pii_gate`). Same
    contract as every gate in the engine: both sides keep the input
    schema, clean ∪ contaminated = input exactly, NULL text counts 0
    hits → clean.

    Exactly one source of held-out phrases:

    - ``canaries`` (small eval sets): the literal-occurrence expression
      (:func:`contamination_scan`'s integer length math) is inlined
      into BOTH predicates, so each side stays a single
      pushdown-friendly filtered scan — no join, no shuffle.
    - ``eval_shingles`` (real eval suites, mixed widths): hits come
      from :func:`contamination_scan_table_multi`'s broadcast
      shingle-table join, flagged back onto the input by an (id)-keyed
      join. One shingle scan feeds both sides; at 100 TB this is the
      only shape — the literal path's plan grows with the eval set."""
    if (canaries is None) == (eval_shingles is None):
        raise ValueError("contamination_gate: pass exactly one of "
                         "canaries or eval_shingles")
    if canaries is not None:
        for c in canaries:
            if not c.strip():
                raise ValueError(
                    f"contamination_gate: empty or whitespace-only "
                    f"canary {c!r}")
        text = F.col(text_col)
        total = sum((_literal_hits(text, c) for c in canaries),
                    F.lit(0).cast("long"))
        return (df.filter(total <= max_hits), df.filter(total > max_hits))
    hits = contamination_scan_table_multi(df, id_col, text_col,
                                          eval_shingles)
    flagged = hits.select(F.col("id").alias(id_col),
                          (F.col("n_canary_hits") > max_hits)
                          .alias("_contam"))
    joined = df.join(flagged, id_col, "left")
    keep = df.columns
    bad = F.coalesce(F.col("_contam"), F.lit(False))
    return (joined.filter(~bad).select(*keep),
            joined.filter(bad).select(*keep))


def contamination_scan_table_multi(df: DataFrame, id_col: str,
                                   text_col: str,
                                   eval_shingles: DataFrame,
                                   shingle_col: str = "sh") -> DataFrame:
    """Mixed-width eval sets: real eval suites shingle to several widths
    at once. Groups the eval table by token count (the widths are a
    dictionary-scale driver-side fact — the table itself still
    broadcasts), runs one :func:`contamination_scan_table` scan per
    width, and sums per doc. → (id, n_canary_hits), zero-count docs
    included; empty eval table → all zeros."""
    widths = [r["k"] for r in
              (eval_shingles
               .select(F.size(F.split(F.col(shingle_col), " ")).alias("k"))
               .distinct().collect())
              if r["k"] and r["k"] > 0]
    ids = df.select(F.col(id_col).alias("id"))
    if not widths:
        return ids.withColumn("n_canary_hits", F.lit(0).cast("long"))
    per_width = [
        contamination_scan_table(df, id_col, text_col, eval_shingles,
                                 shingle_col=shingle_col, k=k)
        for k in sorted(widths)
    ]
    unioned = per_width[0]
    for nxt in per_width[1:]:
        unioned = unioned.unionByName(nxt)
    return (unioned.groupBy("id")
            .agg(F.sum("n_canary_hits").alias("n_canary_hits")))
