"""Turn → raw triples: the rule set for the extraction stage.

Pure functions shared by the extraction stage
(:mod:`..operators.extract`) and the frozen pure-Python oracle
(:mod:`..oracle`). ``text_triples`` runs inside the engine's
``mapInPandas`` UDF as is; ``turn_skeleton_triples`` is the
specification the engine's Catalyst skeleton is tested against, row by
row (tests/test_rules_unit.py). This is the engine's analog of
the reference's Jena ``rdfparse -R`` triple extraction
(convertRDF4import_normal-files_JACQ.sh:355 in /root/reference) plus its
datatype rules (xsd:decimal annotation JACQ.sh:368-374, 5-dp rounding
JACQ.sh:388-395).

Raw means pre-canonicalization: URL objects are emitted exactly as they
appear in the text; the canonicalize stage rewrites them (and emits
owl:sameAs alias triples).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from ..data import vocab as V
from . import mentions as M

OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
P_COMMENT = V.SCHEMA + "comment"
P_COLLECTION_CODE = V.DWC + "collectionCode"

# triple tuple: (subj, pred, obj, obj_is_iri)
Triple = tuple[str, str, str, bool]


def ts_literal(ts) -> str:
    """Stable UTC ISO-second literal for either tz-aware or tz-naive-UTC
    timestamps (pandas hands the oracle tz-naive UTC; the generator
    produces tz-aware). Sub-seconds are truncated, as the engine's
    ``date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")`` does."""
    if isinstance(ts, dt.datetime):
        if ts.tzinfo is not None:
            ts = ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ts.strftime("%Y-%m-%dT%H:%M:%SZ")
    # pandas.Timestamp
    t = ts.tz_convert("UTC").tz_localize(None) if getattr(ts, "tzinfo", None) else ts
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def turn_skeleton_triples(conv_id: str, turn_idx: int, role: str | None,
                          tool: str | None, ts) -> list[Triple]:
    """The rows every turn gets whatever its text: rdf:type, isPartOf,
    roleName and created, plus prov:used when a tool is set. A null
    ``role`` or ``ts`` emits no row for it. The engine builds these rows
    as Catalyst expressions (operators/extract.skeleton_triples)."""
    subj = V.turn_uri(conv_id, turn_idx)
    out: list[Triple] = [
        (subj, V.RDF_TYPE, V.O_TURN_TYPE, True),
        (subj, V.P_IS_PART_OF, V.conv_uri(conv_id), True),
    ]
    if not pd.isna(role):
        out.append((subj, V.P_ROLE, role, False))
    if not pd.isna(ts):
        out.append((subj, V.P_CREATED, ts_literal(ts), False))
    if tool:
        out.append((subj, V.P_USED_TOOL, V.tool_uri(tool), True))
    return out


def text_triples(text: str) -> list[tuple[str, str, bool]]:
    """(pred, obj, obj_is_iri) rows derived from a turn's text; the
    subject is the turn's URI."""
    # fix-stage text repairs first (P6 HTML excision, P10 comment strip) —
    # content inside comments/HTML payloads never becomes data
    text = M.fix_text(text)
    out: list[tuple[str, str, bool]] = []
    # recordedBy spans come out first so their URLs aren't re-matched as
    # plain mentions (G4 trigger — JACQ.sh:446-447)
    rb_urls, text = M.extract_recorded_by(text)
    for url in rb_urls:
        out.append((V.P_RECORDED_BY, url, True))
    # media="…" quoted literals: emitted as URL-valued LITERALS here; the
    # canonicalize stage retypes them to IRIs (P19 — JACQ.sh:846-855)
    media_urls, text = M.extract_media(text)
    for url in media_urls:
        out.append((V.P_ASSOCIATED_MEDIA, url, False))
    for url in M.extract_urls(text):
        out.append((V.P_MENTIONS, url, True))
    for lat, lon in M.extract_coords(text):
        out.append((V.P_LAT, f"{lat}^^<{V.XSD_DECIMAL}>", False))
        out.append((V.P_LONG, f"{lon}^^<{V.XSD_DECIMAL}>", False))
    if M.has_empty_note(text):
        # will be dropped by the canonicalize stage (P4 — JACQ.sh:360);
        # emitted here so the drop is observable in lineage counters
        out.append((P_COMMENT, "", False))
    for code in M.extract_collection_codes(text):
        out.append((P_COLLECTION_CODE, code, False))
    if M.is_event_marked(text):
        out.append((V.RDF_TYPE, V.O_EVENT_TYPE, True))
    return out


def extract_turn_triples(
    conv_id: str, turn_idx: int, role: str | None, text: str,
    tool: str | None, ts
) -> list[Triple]:
    """All raw triples of one turn: the skeleton rows, then the
    text-derived rows."""
    subj = V.turn_uri(conv_id, turn_idx)
    return (turn_skeleton_triples(conv_id, turn_idx, role, tool, ts)
            + [(subj, p, o, i) for p, o, i in text_triples(text)])
