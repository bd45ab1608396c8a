"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Input table shape per BASELINE.json ``input_hint``:
    (conv_id: string, turn_idx: int32, role: string, text: string,
     tool: string, ts: timestamp)

Design: one pure function ``gen_conversation(i)`` seeded per-conversation
(seed = GLOBAL_SEED + i) generates that conversation's turns. The Spark
path fans ``spark.range(n_convs)`` through ``mapInPandas`` calling the same
function — so the produced rows are byte-identical no matter how many
partitions/executors generate them, and identical to the driver-side
generator used by the pure-Python oracle. No wall-clock or global RNG in
the transform path.

Texts embed the extraction fixtures the reference's rules exercise:
URLs with illegal IRI characters (fixRDF_before_validateRDFs.sh:368-384),
alias variants (https↔http, :443, /wiki/↔/entity/, VIAF trailing path —
convertRDF4import_normal-files_JACQ.sh:362-367, 841-844), decimal
coordinates with 3-8 decimals (JACQ.sh:390-395), empty-literal drops
(JACQ.sh:360), and ?format= technical URLs (Finland.sh:422-428).
Conversation lengths are Zipf-ish so hot keys exist (skew fixture).
"""

from __future__ import annotations

import datetime as dt
from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from .dictionary import ENTITY_DICTIONARY

GLOBAL_SEED = 42
ZIPF_A = 1.6      # conversation length ~ 1 + zipf(ZIPF_A), within [2, MAX_TURNS]
MAX_TURNS = 200
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "fetch_url", "sql_query", "code_exec",
         "file_read", "translate", "geo_lookup", "summarize"]

_DOMAIN_KEYS = [k for kind, k, *_ in ENTITY_DICTIONARY if kind == "domain_prefix"]
_PATH_KEYS = [k for kind, k, *_ in ENTITY_DICTIONARY if kind == "path_prefix"]
_LITERAL_KEYS = [tuple(k.split("|", 1)) for kind, k, *_ in ENTITY_DICTIONARY
                 if kind == "literal_cond"]

TRANSCRIPT_SCHEMA = ("conv_id string, turn_idx int, role string, "
                     "text string, tool string, ts timestamp")


def _pick(rng: np.random.RandomState, options: list[str]) -> str:
    """``rng.choice(options)`` minus numpy's array-coercion overhead:
    for a 1-D list with default args, RandomState.choice draws exactly
    ``self.randint(0, len(a))`` and indexes — this does the same two
    steps directly, so the RNG state stream and every produced value
    are bit-identical to the ``choice`` form (fixture-hash asserted in
    test_rules_unit) at a fraction of the per-call cost (choice paid
    np.prod/seterr validation per draw — ~20% of generator CPU)."""
    return options[rng.randint(len(options))]


def _mk_url(rng: np.random.RandomState) -> str:
    """One mention URL, with alias/dirt variants at fixed probabilities."""
    p = rng.rand()
    if p < 0.30:  # institution specimen URI (linking fixture)
        dom = _DOMAIN_KEYS[rng.randint(len(_DOMAIN_KEYS))]
        url = f"http://{dom}/spec/{rng.randint(100000)}"
        v = rng.rand()
        if v < 0.15:   # https alias
            url = "https://" + url[len("http://"):]
        elif v < 0.25:  # default-port alias (issue #3, JACQ.sh:841-844)
            url = url.replace(dom, dom + ":443", 1) if url.startswith("https") \
                else url.replace(dom, dom + ":80", 1)
        return url
    if p < 0.42:  # path-scoped institution URI
        pk = _PATH_KEYS[rng.randint(len(_PATH_KEYS))]
        return f"http://{pk}/{rng.randint(100000)}"
    if p < 0.52:  # aggregator URI whose linking depends on a literal (J2)
        return f"http://tun.example/specimen/{rng.randint(100000)}"
    if p < 0.64:  # wikidata entity, 8 alias spellings (P17, JACQ.sh:362)
        q = rng.randint(1, 20000)
        host = _pick(rng, ["www.wikidata.org", "m.wikidata.org"])
        path = _pick(rng, ["wiki", "entity"])
        scheme = _pick(rng, ["http", "https"])
        return f"{scheme}://{host}/{path}/Q{q}"
    if p < 0.72:  # VIAF with trailing path (P18, JACQ.sh:367)
        v = rng.randint(100000, 999999)
        suffix = _pick(rng, ["", "/", "/#entity", "/rdf.xml"])
        return f"http://viaf.org/viaf/{v}{suffix}"
    if p < 0.80:  # https→http scheme-canonical domains (P18)
        dom = ["ipni.example", "purl.example", "isni.example"][rng.randint(3)]
        return f"https://{dom}/id/{rng.randint(100000)}"
    if p < 0.86:  # technical URL — subject dropped (P5, Finland.sh:422-428)
        fmt = _pick(rng, ["JSONLD", "RDFXML", "TTL"])
        return f"http://tun.example/specimen/{rng.randint(100000)}?format={fmt}"
    if p < 0.90:  # illegal IRI chars, bracket-quoted (P9, fixRDF:368-384)
        bad = _pick(rng, [" ", "^", "`", "\\", "[", "]"])
        return f"<http://dirty.example/a{bad}b/{rng.randint(1000)}>"
    if p < 0.93:  # doubled-URI data bug (P12, fixRDF:408-409)
        u = f"http://dup.example/r/{rng.randint(1000)}"
        return u + u
    if p < 0.96:  # XML-escaped ampersand in query (P13, fixRDF:412-413)
        return f"http://other.example/q?a={rng.randint(100)}&amp;b={rng.randint(100)}"
    # plain unlinked URL
    return f"http://other.example/page/{rng.randint(100000)}"


def _mk_text(rng: np.random.RandomState, role: str, tool: str | None) -> str:
    parts: list[str] = []
    n_urls = rng.randint(0, 4)  # 0..3 mentions
    for _ in range(n_urls):
        parts.append(f"see {_mk_url(rng)}")
    if rng.rand() < 0.18:  # coordinates, 3-8 decimals (rounding fixture P16)
        nd_lat, nd_lon = rng.randint(3, 9), rng.randint(3, 9)
        lat = round(rng.rand() * 180 - 90, nd_lat)
        lon = round(rng.rand() * 360 - 180, nd_lon)
        parts.append(f"lat={lat:.{nd_lat}f} long={lon:.{nd_lon}f}")
    if rng.rand() < 0.10:  # empty-literal fixture (P4, JACQ.sh:360)
        parts.append('note=""')
    if rng.rand() < 0.12:  # collection-code literal (J2 fixture)
        dom_lit = _LITERAL_KEYS[rng.randint(len(_LITERAL_KEYS))]
        parts.append(f'collection "{dom_lit[1]}"')
    if rng.rand() < 0.10:  # collector back-link (G4 trigger — JACQ.sh:446-447)
        if rng.rand() < 0.5:
            q = rng.randint(1, 20000)
            host = _pick(rng, ["www.wikidata.org", "m.wikidata.org"])
            path = _pick(rng, ["wiki", "entity"])
            scheme = _pick(rng, ["http", "https"])
            parts.append(f"recordedby={scheme}://{host}/{path}/Q{q}")
        else:
            v = rng.randint(100000, 999999)
            suffix = _pick(rng, ["", "/#entity"])
            parts.append(f"recordedby=http://viaf.org/viaf/{v}{suffix}")
    if rng.rand() < 0.08:  # associatedMedia quoted literal (P19 retype)
        port = ":443" if rng.rand() < 0.25 else ""
        scheme = "https" if port else "http"
        ext = ["jpg", "png", "tif"][rng.randint(3)]
        parts.append(
            f'media="{scheme}://media.example{port}/img/{rng.randint(100000)}.{ext}"')
    if rng.rand() < 0.05:  # XML comment — content is never data (P10)
        parts.append(f"<!-- see http://hidden.example/c/{rng.randint(1000)} -- note -->")
    if rng.rand() < 0.04:  # embedded HTML payload excised (P6)
        parts.append("<!DOCTYPE html><html><body>see "
                     f"http://hidden.example/h/{rng.randint(1000)}</body></html>")
    if rng.rand() < 0.08:  # Event-typed subject (G2 retraction fixture)
        parts.append("eventtype=Event")
    if not parts:
        parts.append(f"{role} message {rng.randint(10000)}")
    if tool:
        parts.insert(0, f"[{tool} result]")
    return " ".join(parts)


def gen_conversation(i: int) -> list[dict]:
    """All turns of conversation ``i`` — pure, seeded, order-stable."""
    rng = np.random.RandomState(GLOBAL_SEED + i)
    n_turns = int(min(MAX_TURNS, 1 + rng.zipf(ZIPF_A)))
    if n_turns < 2:
        n_turns = 2
    conv_id = f"conv-{i:06d}"
    t0 = EPOCH + dt.timedelta(seconds=int(rng.randint(0, 86400 * 30)))
    rows = []
    for t in range(n_turns):
        if rng.rand() < 0.05:
            role = "system"
        else:
            role = ROLES[t % 3]
        tool = TOOLS[rng.randint(len(TOOLS))] if role == "tool" else None
        rows.append({
            "conv_id": conv_id,
            "turn_idx": t,
            "role": role,
            "text": _mk_text(rng, role, tool),
            "tool": tool,
            "ts": t0 + dt.timedelta(seconds=t * int(10 + rng.randint(50))),
        })
    return rows


def transcripts_pdf(n_convs: int) -> pd.DataFrame:
    """Driver-side generation (tests / oracle), identical rows to Spark path."""
    rows: list[dict] = []
    for i in range(n_convs):
        rows.extend(gen_conversation(i))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def transcripts_df(spark, n_convs: int, partitions: int | None = None):
    """Distributed generation: range(n_convs) → mapInPandas(gen_conversation).

    Scales to any size (each task generates only its conversations); at
    100 TB the analog is simply reading the Iceberg transcript table.
    """
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_convs, 1, partitions)

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for i in pdf["id"].tolist():
                out.extend(gen_conversation(int(i)))
            o = pd.DataFrame(out, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
            o["turn_idx"] = o["turn_idx"].astype("int32")
            yield o

    return base.mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
