"""Repetition-based quality signals — the Gopher-rules family (Rae et
al. 2021, "Scaling Language Models", Table A1): what fraction of a
document is the same line, paragraph, or n-gram repeated. Cheap,
deterministic, and the single strongest cheap predictor of
machine-generated / boilerplate text, which is why every production
pre-training curation stack (Gopher, MassiveText, RefinedWeb, Dolma)
gates on these before any model-based scoring.

Reference parity: the reference hard-codes the repeated spans it strips
(P6 boilerplate excision, fixRDF_before_validate.sh:330-345); this
module MEASURES repetition per document so a gate can decide, the
same measure-then-act split as operators/spandedup.py at corpus level.

All signals are built-in JVM expressions over one explode + one
aggregation per signal family — map-side partial aggregation applies,
the only shuffles are keyed on (id, unit) then (id), and nothing here
is a Python stage. Counts are exact integers (engine-portable — the
ratio columns divide two summed integers, the q44 convention), so every
signal carries a full DuckDB oracle in the tests.

Definition notes (both are the standard public reimplementation
choices, and both are documented here because they differ across
public stacks):

- Duplicate-line/paragraph fractions count EVERY occurrence of a
  repeated unit (a line appearing 3× contributes 3 to the dup count),
  matching the Gopher text ("fraction of lines that are duplicates").
- Duplicated-n-gram character fractions are overlap-naive: each
  occurrence of each duplicated n-gram contributes its full character
  length, so heavily self-overlapping repeats can push the fraction
  past 1.0 (e.g. "spam spam spam ..."). Overlap-aware coverage is
  exactly what operators/spandedup.py computes when you need it; a
  gate wants a monotone repetition score, where overlap-naive is
  both cheaper (no interval union) and MORE sensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spandedup import shingle_positions

# repetition_signals' widths and line unit: the top 2-gram and the
# duplicated 5-grams (the widths of Gopher Table A1's 0.20 and 0.15
# thresholds), lines split on newlines
TOP_N = 2
DUP_N = 5
LINE_SEP = "\n"


def _line_counts(df: DataFrame, id_col: str, text_col: str,
                 sep: str) -> DataFrame:
    """Per-doc duplicate-line counts WITHOUT the zero-fill join back to
    the id list (docs with no non-empty lines are absent) — the shared
    core of :func:`line_repetition` and :func:`repetition_signals`,
    which zero-fill once at their own join."""
    lines = (df.select(F.col(id_col).alias("id"),
                       F.explode(F.split(F.coalesce(F.col(text_col),
                                                    F.lit("")),
                                         sep)).alias("_raw"))
             .select("id", F.trim(F.col("_raw")).alias("line"))
             .filter(F.col("line") != ""))
    per_line = (lines.groupBy("id", "line")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .withColumn("chars", F.length("line").cast("long")))
    dup = F.col("cnt") > 1
    return (per_line.groupBy("id")
            .agg(F.sum("cnt").alias("n_lines"),
                 F.sum(F.when(dup, F.col("cnt")).otherwise(0))
                 .alias("n_dup_lines"),
                 F.sum(F.col("cnt") * F.col("chars")).alias("n_line_chars"),
                 F.sum(F.when(dup, F.col("cnt") * F.col("chars"))
                       .otherwise(0)).alias("n_dup_line_chars")))


def line_repetition(df: DataFrame, id_col: str, text_col: str,
                    sep: str = "\n") -> DataFrame:
    """Exact duplicate-line counts per document: lines are ``sep``-split
    units, trimmed, empty units ignored. → (id, n_lines, n_dup_lines,
    n_line_chars, n_dup_line_chars) — all exact longs; a "dup line" is
    every occurrence of a line whose exact trimmed content appears ≥2×
    in the SAME document. Char counts use trimmed lengths, one
    contribution per occurrence.

    ``sep`` is a REGEX (it feeds ``F.split``): ``"\\n"`` and
    ``"\\n\\n"`` mean what they look like, but a literal separator
    containing metacharacters (``|``, ``.``) must be escaped by the
    caller (``re.escape``), and the DuckDB oracle parity
    (string_split_regex) holds for the regex interpretation.

    Pass ``sep="\\n\\n"`` for the paragraph-level variant (Gopher runs
    both; the operator is the same counting plan on a coarser unit).

    Plan: explode(split) → groupBy(id, line) → groupBy(id). Both
    aggregations take map-side partials; docs with no non-empty lines
    still get a row (left join back to ids, zero-filled), so every
    input doc has a row even for empty/NULL text."""
    ids = df.select(F.col(id_col).alias("id"))
    return (ids.join(_line_counts(df, id_col, text_col, sep), "id", "left")
            .fillna(0, ["n_lines", "n_dup_lines", "n_line_chars",
                        "n_dup_line_chars"]))


def ngram_repetition(df: DataFrame, id_col: str, text_col: str,
                     n: int = 2) -> DataFrame:
    """Per-document n-gram repetition counts over token-aligned word
    n-grams (operators/spandedup.shingle_positions — the posexplode +
    lead-window form, no interpreted HOFs). → (id, n_ngrams,
    top_ngram_count, top_ngram_chars, dup_ngram_count, dup_ngram_chars):

    - ``top_ngram_*``: occurrence count and total characters (count ×
      n-gram length, single-space-joined) of the MOST FREQUENT n-gram —
      ties broken deterministically by (count, length, n-gram) so the
      result is engine- and partition-order-independent.
    - ``dup_ngram_*``: occurrences and characters summed over every
      n-gram appearing ≥2× in the document (overlap-naive — module
      docstring).

    Docs with fewer than ``n`` tokens get an all-zero row. One shingle
    scan, groupBy(id, sh) with map-side partials, then a groupBy(id)
    whose ``max(struct(...))`` argmax needs no second pass or join —
    this is the whole plan, and it is the 100 TB shape: nothing here
    materializes a per-doc list."""
    ids = df.select(F.col(id_col).alias("id"))
    pos = shingle_positions(df, id_col, text_col, n)
    per_sh = (pos.groupBy("id", "sh")
              .agg(F.count(F.lit(1)).alias("cnt"))
              .withColumn("chars", F.length("sh").cast("long")))
    dup = F.col("cnt") > 1
    top = F.max(F.struct(F.col("cnt"), F.col("chars"), F.col("sh")))
    per_doc = (per_sh.groupBy("id")
               .agg(F.sum("cnt").alias("n_ngrams"),
                    top.alias("_top"),
                    F.sum(F.when(dup, F.col("cnt")).otherwise(0))
                    .alias("dup_ngram_count"),
                    F.sum(F.when(dup, F.col("cnt") * F.col("chars"))
                          .otherwise(0)).alias("dup_ngram_chars"))
               .select("id", "n_ngrams",
                       F.col("_top.cnt").alias("top_ngram_count"),
                       (F.col("_top.cnt") * F.col("_top.chars"))
                       .alias("top_ngram_chars"),
                       "dup_ngram_count", "dup_ngram_chars"))
    return (ids.join(per_doc, "id", "left")
            .fillna(0, ["n_ngrams", "top_ngram_count", "top_ngram_chars",
                        "dup_ngram_count", "dup_ngram_chars"]))


def _ngram_stats_fused(df: DataFrame, id_col: str, text_col: str,
                       top_n: int, dup_n: int) -> DataFrame:
    """Both signal widths from ONE tokenize + ONE per-doc window: the
    lead chain extends to max(top_n, dup_n) tokens, each position emits
    one tagged row per width (inline array explode — narrow), and a
    single groupBy(id, width, sh) → groupBy(id) pivot produces the
    per-doc stats. The naive form (shingle_positions per width) paid
    two posexplode scans and two (id)-partitioned window sorts; this is
    the same output for half the scans and one window — the difference
    between 6.8 s and ~2 s at sf0.1, and at corpus scale between one
    and two passes over every token. → (id, top_ngram_chars [0 unless
    the top n-gram repeats], dup_ngram_chars)."""
    from pyspark.sql.window import Window

    from .textops import tokens

    widths = sorted({top_n, dup_n})
    kmax = max(widths)
    toks = tokens(F.col(text_col))
    tok = df.select(F.col(id_col).alias("id"),
                    F.posexplode(toks).alias("pos", "_w0"))
    w = Window.partitionBy("id").orderBy("pos")
    # window exprs materialize in their own projection first — fused
    # into struct/explode/filter directly, Catalyst collapses them into
    # the WHERE clause, which is unsupported for window functions
    led = tok.select("id", "_w0",
                     *[F.lead("_w0", i).over(w).alias(f"_w{i}")
                       for i in range(1, kmax)])
    parts = [F.col(f"_w{i}") for i in range(kmax)]
    shingles = [
        F.struct(F.lit(n).alias("width"),
                 F.when(parts[n - 1].isNotNull(),
                        F.concat_ws(" ", *parts[:n])).alias("sh"))
        for n in widths
    ]
    ng = (led.select("id", F.explode(F.array(*shingles)).alias("g"))
          .select("id", F.col("g.width").alias("width"),
                  F.col("g.sh").alias("sh"))
          .filter(F.col("sh").isNotNull()))
    per_sh = (ng.groupBy("id", "width", "sh")
              .agg(F.count(F.lit(1)).alias("cnt"))
              .withColumn("chars", F.length("sh").cast("long")))
    dup = F.col("cnt") > 1
    top = F.max(F.struct(F.col("cnt"), F.col("chars"), F.col("sh")))
    per_doc = (per_sh.groupBy("id", "width")
               .agg(top.alias("_top"),
                    F.sum(F.when(dup, F.col("cnt") * F.col("chars"))
                          .otherwise(0)).alias("_dup_chars"))
               .select("id", "width",
                       # a top n-gram occurring once is length noise,
                       # not repetition (see repetition_signals)
                       F.when(F.col("_top.cnt") >= 2,
                              F.col("_top.cnt") * F.col("_top.chars"))
                       .otherwise(0).alias("_top_chars"),
                       "_dup_chars"))
    return (per_doc.groupBy("id")
            .agg(F.sum(F.when(F.col("width") == top_n, F.col("_top_chars"))
                       .otherwise(0)).alias("top_ngram_chars"),
                 F.sum(F.when(F.col("width") == dup_n, F.col("_dup_chars"))
                       .otherwise(0)).alias("dup_ngram_chars")))


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The Gopher-style per-document repetition profile: line duplicate
    fractions plus top-``TOP_N``-gram and duplicated-``DUP_N``-gram
    character fractions. → (id, n_chars, n_lines, dup_line_frac,
    dup_line_char_frac, top_ngram_char_frac, dup_ngram_char_frac),
    fractions rounded to 4 dp, zero-line/short docs → 0.0 (not NULL),
    denominators clamped with greatest(·, 1). ``top_ngram_char_frac``
    is 0.0 unless the top n-gram occurs ≥2× (see inline note).

    Gopher computes the n-gram families at several widths; this returns
    one width per family. Character fractions use length(text) as the denominator, so line
    separators count toward the whole like they do in the paper."""
    n_chars = F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long")
    base = df.select(F.col(id_col).alias("id"), n_chars.alias("n_chars"))
    lines = _line_counts(df, id_col, text_col, LINE_SEP)
    # a top n-gram occurring ONCE covers most of any short document —
    # pure length noise, not repetition; like the public Gopher-rule
    # reimplementations, the fraction counts the top n-gram only when
    # it actually repeats (ngram_repetition keeps the raw count-≥1
    # numbers for profiling). Both n-gram widths come from one fused
    # tokenize+window pass (_ngram_stats_fused); line units explode
    # separately, and the absent-row zero-fill happens once here.
    grams = _ngram_stats_fused(df, id_col, text_col, TOP_N, DUP_N)

    def frac(num, den):
        return F.round(F.coalesce(num, F.lit(0))
                       / F.greatest(F.coalesce(den, F.lit(0)), F.lit(1)), 4)

    return (base.join(lines, "id", "left").join(grams, "id", "left")
            .select("id", "n_chars",
                    F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
                    frac(F.col("n_dup_lines"), F.col("n_lines"))
                    .alias("dup_line_frac"),
                    frac(F.col("n_dup_line_chars"), F.col("n_line_chars"))
                    .alias("dup_line_char_frac"),
                    frac(F.col("top_ngram_chars"), F.col("n_chars"))
                    .alias("top_ngram_char_frac"),
                    frac(F.col("dup_ngram_chars"), F.col("n_chars"))
                    .alias("dup_ngram_char_frac")))
