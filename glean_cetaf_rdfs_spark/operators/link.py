"""Entity-linking stage — the reference's institution-ID lookup (J1) and
conditional literal rule (J2) as broadcast hash joins.

The reference codegens its dictionary into ~380 lines of per-institution
sed address blocks (convertRDF4import_normal-files_JACQ.sh:434-812,
generated by generate_sed-expr4ROR-id.sh:98-169). Here that one dictionary
is ``data.dictionary.ENTITY_DICTIONARY``, a ~40-row local-relation
DataFrame broadcast to every task; there is no caller-supplied dictionary.

Longest-prefix matching is executed as **priority broadcast left-joins**:
one candidate-key column per path depth (domain, domain/s1, …, deepest
first), one map-side broadcast join per depth, then a struct-coalesce
picks the deepest hit. Zero shuffles on the mention stream — the whole
match runs inside the scan stage. (An earlier explode+distinct+max_by
formulation cost 3 shuffles; at 10^12 turns those are the bill.)

The conditional literal rule (tun.fi analog, Finland.sh:471-522) needs the
sibling collectionCode literal of the mentioning turn → one join through
the turn key (AQE decides broadcast vs shuffle; both sides are filtered
subsets).

Output keeps one row per *mention* (duplicates per entity are fine —
materialize dedupes once, mirroring the reference's single
duplicate-removal step JACQ.sh:441).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data import vocab as V
from ..data.dictionary import ENTITY_DICTIONARY, entity_dictionary_df
from ..functions.extraction_rules import P_COLLECTION_CODE
from ..functions.uri import MAX_PATH_SEGS, strip_scheme_col, url_domain_col


def mentions_of(triples: DataFrame) -> DataFrame:
    return (triples.filter(F.col("pred") == V.P_MENTIONS)
            .select(F.col("subj").alias("turn"), F.col("obj").alias("entity")))


def _candidate_keys(entity):
    """Candidate dictionary keys by depth: [domain, domain/s1, ...] as
    individual Columns (cumulative guard = match_keys_py break semantics).
    Scheme strip is anchored (uri.strip_scheme_col) so an embedded URL in
    the query string can't hijack the key — matches match_keys_py."""
    stripped = strip_scheme_col(entity)  # anchored char scan, not regex
    parts = F.split(stripped, "/")
    domain = F.split(F.get(parts, 0), ":").getItem(0)
    keys = [domain]
    ok = F.lit(True)
    for k in range(1, MAX_PATH_SEGS + 1):
        seg = F.get(parts, k)
        ok = ok & seg.isNotNull() & (seg != "") & ~seg.contains("?")
        keys.append(F.when(ok, F.concat(domain, F.lit("/"),
                                        F.array_join(F.slice(parts, 2, k), "/"))))
    return keys


def link_entities(triples: DataFrame) -> DataFrame:
    """→ (entity, canonical_id, umbrella, publisher, add_conforms_to),
    one row per matched mention (dedupe happens at materialization)."""
    dict_df = entity_dictionary_df(triples.sparkSession)
    # the literal-rule domains come straight from the static dictionary,
    # a list already in driver memory: no plan-build-time collect job
    literal_domains = sorted({k.split("|", 1)[0]
                              for kind, k, *_ in ENTITY_DICTIONARY
                              if kind == "literal_cond"})

    mentions = mentions_of(triples)

    # --- prefix rules: priority broadcast left-joins, deepest key wins ---
    rule_struct = F.struct("canonical_id", "umbrella", "publisher", "add_conforms_to")
    prefix_dict = (dict_df.filter(F.col("match_kind") != "literal_cond")
                   .select("match_key", rule_struct.alias("rule")))
    keys = _candidate_keys(F.col("entity"))
    cur = mentions
    rule_cols = []
    for depth, key in enumerate(keys):
        d = prefix_dict.select(F.col("match_key").alias(f"_k{depth}"),
                               F.col("rule").alias(f"_r{depth}"))
        cur = cur.withColumn(f"_key{depth}", key).join(
            F.broadcast(d), F.col(f"_key{depth}") == F.col(f"_k{depth}"), "left")
        rule_cols.append(F.col(f"_r{depth}"))
    best = F.coalesce(*reversed(rule_cols))  # deepest (longest) match first
    prefix_links = (cur.withColumn("_rule", best)
                    .filter(F.col("_rule").isNotNull())
                    .select("entity",
                            F.col("_rule.canonical_id").alias("canonical_id"),
                            F.col("_rule.umbrella").alias("umbrella"),
                            F.col("_rule.publisher").alias("publisher"),
                            F.col("_rule.add_conforms_to").alias("add_conforms_to")))

    # --- conditional literal rules: key = (mention domain, sibling
    # collectionCode literal of the same turn) ---
    literal_dict = (
        dict_df.filter(F.col("match_kind") == "literal_cond")
        .withColumn("dom", F.split("match_key", r"\|").getItem(0))
        .withColumn("code", F.split("match_key", r"\|").getItem(1))
    )
    codes = (triples.filter(F.col("pred") == P_COLLECTION_CODE)
             .select(F.col("subj").alias("turn"), F.col("obj").alias("code")))
    literal_links = (
        mentions.withColumn("dom", url_domain_col(F.col("entity")))
        .filter(F.col("dom").isin(literal_domains))
        .join(codes, "turn")
        .join(F.broadcast(literal_dict), ["dom", "code"])
        .select("entity", "canonical_id", "umbrella", "publisher", "add_conforms_to")
    )

    return prefix_links.unionByName(literal_links)


def event_entities(triples: DataFrame) -> DataFrame:
    """Entities mentioned by any Event-typed turn (G2-retraction trigger,
    Finland.sh:443/462/515) — one column ``entity``, distinct (feeds a
    left join)."""
    event_turns = (triples
                   .filter((F.col("pred") == V.RDF_TYPE) & (F.col("obj") == V.O_EVENT_TYPE))
                   .select(F.col("subj").alias("turn")).distinct())
    return (mentions_of(triples).join(event_turns, "turn")
            .select("entity").distinct())
