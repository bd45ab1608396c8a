"""Frozen pure-Python reference-rule oracle.

Executes the same rule dictionary as the Spark pipeline but row-at-a-time
in plain Python over a pandas transcript frame — structurally like the
reference's sed/awk single-pass streams, deliberately Spark-free. The
engine's golden tests assert triple P/R against this oracle (target ≥0.95
per BASELINE.json; the suite asserts exact equality).

Shared with the engine: only the *rule data* (mention grammar, URI rule
list, entity dictionary) — the execution strategies are independent
(streaming row loop + dict lookups here vs distributed joins/unions
there), so agreement is meaningful evidence, not tautology.
"""

from __future__ import annotations

import re

import pandas as pd

from .data import vocab as V
from .data.dictionary import domain_rules, literal_rules, path_rules
from .functions.extraction_rules import (
    OWL_SAMEAS,
    P_COLLECTION_CODE,
    extract_turn_triples,
)
from .functions.uri import canonicalize_py, match_keys_py, url_domain_py

TECHNICAL = re.compile(r"[?&]format=")  # same pattern as the Spark filter

Triple5 = tuple[str, str, str, str, bool]  # (graph, subj, pred, obj, obj_is_iri)


def _graphed(subj: str, pred: str, obj: str, iri: bool) -> Triple5:
    return ("http://" + (url_domain_py(subj) or ""), subj, pred, obj, iri)


def oracle_triples(transcripts: pd.DataFrame) -> set[Triple5]:
    dom_rules, pth_rules, lit_rules = domain_rules(), path_rules(), literal_rules()
    lit_domains = {d for d, _ in lit_rules}

    kept: set[Triple5] = set()
    mentions: list[tuple[str, str]] = []     # (turn, entity) canonical
    recorded: list[tuple[str, str]] = []     # (turn, recordedBy obj) canonical
    turn_codes: dict[str, set[str]] = {}     # turn -> collection codes
    event_turns: set[str] = set()

    # --- extract + canonicalize, row at a time -------------------------
    for r in transcripts.itertuples(index=False):
        for subj, pred, obj, iri in extract_turn_triples(
                r.conv_id, int(r.turn_idx), r.role, r.text, r.tool, r.ts):
            # P19 retype (JACQ.sh:846-855): URL-valued associatedMedia
            # literal → IRI object, before the alias rules
            if (not iri and pred == V.P_ASSOCIATED_MEDIA
                    and obj.startswith(("http://", "https://"))):
                iri = True
            if iri:
                canon = canonicalize_py(obj)
                if TECHNICAL.search(canon):
                    continue  # P5 technical drop
                if canon != obj:
                    kept.add(_graphed(obj, OWL_SAMEAS, canon, True))
                obj = canon
            elif obj == "":
                continue  # P4 empty-literal drop
            kept.add(_graphed(subj, pred, obj, iri))
            if pred == V.P_MENTIONS:
                mentions.append((subj, obj))
            elif pred == V.P_RECORDED_BY:
                recorded.append((subj, obj))
            elif pred == P_COLLECTION_CODE:
                turn_codes.setdefault(subj, set()).add(obj)
            elif pred == V.RDF_TYPE and obj == V.O_EVENT_TYPE:
                event_turns.add(subj)

    # --- link ------------------------------------------------------------
    # entity -> list of matched rules (canonical_id, umbrella, publisher, act)
    links: dict[str, list[tuple]] = {}
    event_entities: set[str] = set()
    for turn, ent in mentions:
        if turn in event_turns:
            event_entities.add(ent)
    for turn, ent in mentions:
        rules = []
        best_key, best_rule = "", None
        for key in match_keys_py(ent):
            rule = pth_rules.get(key) if "/" in key else dom_rules.get(key)
            if rule is not None and len(key) >= len(best_key):
                best_key, best_rule = key, rule
        if best_rule is not None:
            rules.append(best_rule)
        dom = url_domain_py(ent)
        if dom in lit_domains:
            for code in turn_codes.get(turn, ()):
                rule = lit_rules.get((dom, code))
                if rule is not None:
                    rules.append(rule)
        if rules:
            links.setdefault(ent, []).extend(rules)

    # --- enrich (G1-G5) ---------------------------------------------------
    for ent, rules in links.items():
        dom = url_domain_py(ent)
        for cid, umb, pub, act in rules:
            if cid is not None:
                kept.add(_graphed(ent, V.P_INSTITUTION_ID, cid, True))
            if act and ent not in event_entities:
                kept.add(_graphed(ent, V.P_CONFORMS_TO, V.O_CSPP, True))
            if umb is not None:
                kept.add(_graphed(ent, V.P_IS_PART_OF, umb, True))
            kept.add(_graphed(ent, V.P_IS_PART_OF, "http://" + dom, True))
            if pub is not None:
                kept.add(_graphed(ent, V.P_PUBLISHER, pub, True))

    # wikidata entities get isPartOf <wikidata root> wherever they appear
    # (JACQ.sh:823-829); hasPart ONLY on subjects with dwciri:recordedBy
    # into wikidata/viaf (JACQ.sh:446-447)
    for turn, ent in mentions:
        if ent.startswith(V.O_WIKIDATA_ROOT):
            kept.add(_graphed(ent, V.P_IS_PART_OF, V.O_WIKIDATA_ROOT, True))
    for turn, ent in recorded:
        if ent.startswith(V.O_WIKIDATA_ROOT):
            kept.add(_graphed(ent, V.P_IS_PART_OF, V.O_WIKIDATA_ROOT, True))
            kept.add(_graphed(turn, V.P_HAS_PART, V.O_WIKIDATA_ROOT, True))
        elif ent.startswith(V.O_VIAF_ROOT):
            kept.add(_graphed(turn, V.P_HAS_PART, V.O_VIAF_ROOT, True))

    return kept
