"""PII and benchmark-contamination scanning — the curation checks a
training-data pipeline runs before any corpus ships: per-document span
counts for PII-shaped patterns (emails, phone numbers, IP addresses),
literal-canary contamination counts (n-gram overlap with held-out eval
sets), and a PII quarantine gate mirroring the S4 input gate
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

# PII patterns — deliberately simple span shapes (the point is the
# operator plumbing and counts).
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


def pii_scan(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc PII span counts, one column per pattern plus a total:
    → (id, n_<name>..., n_pii). Vectorized ``regexp_extract_all``;
    each pattern is one codegen'd expression over the same scan."""
    counts = [
        _span_count(text_col, rx).alias(f"n_{name}")
        for name, rx in PII_PATTERNS.items()
    ]
    out = df.select(F.col(id_col).alias("id"), *counts)
    total = sum((F.col(f"n_{name}") for name in PII_PATTERNS),
                F.lit(0)).alias("n_pii")
    return out.select("id", *[f"n_{n}" for n in PII_PATTERNS], total)


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
    rides the plan as literals, so the plan grows with the eval set;
    an eval set of millions of shingles needs a broadcast join against
    an eval-shingle table instead, which no caller needs yet.
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


def pii_gate(df: DataFrame, text_col: str,
             max_hits: int = 0) -> tuple[DataFrame, DataFrame]:
    """Split (clean, quarantined) on total PII hits > ``max_hits`` —
    the content analog of the S4 format gate, same contract: both sides
    keep the input schema and ``clean ∪ quarantined = input`` exactly
    (NULL text counts as 0 hits → clean; without the coalesce a NULL
    total would fail BOTH predicates and silently drop the row from
    both sides). The scan expression is inlined into both predicates so
    each side is a single pushdown-friendly filtered scan."""
    total = sum((_span_count(text_col, rx) for rx in PII_PATTERNS.values()),
                F.lit(0))
    return (df.filter(total <= max_hits), df.filter(total > max_hits))
