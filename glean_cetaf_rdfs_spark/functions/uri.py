"""URI canonicalization — the alias-resolution rule dictionary.

One ordered rule list, two executions:

* :func:`canonicalize_py` — pure-Python ``re.sub`` chain (the frozen oracle),
* :func:`canonicalize_col` — the same rules as a JVM-side
  ``F.regexp_replace`` chain (whole-stage-codegen'd, no Python in the hot
  path).

Rules mirror the reference's normalize-stage sed dictionary:

* default-port strip ``:443``/``:80`` (issue #3 — JACQ.sh:833-845),
* wikidata spelling unification (JACQ.sh:362),
* https→http for scheme-canonical domains (JACQ.sh:363-366),
* VIAF trailing path/fragment strip (JACQ.sh:367),
* percent-encoding of illegal IRI characters space ^ ` \\ [ ] U+F021 U+F022
  (fixRDF_before_validateRDFs.sh:368-384). The reference needs a sed
  fixpoint loop (``:label; s@…@…@; t label``) because it rewrites one
  occurrence per iteration inside a quoted context; a global per-character
  replace is the same fixpoint in one pass.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# (pattern, python_replacement) — applied in order, each globally.
CANON_RULES: list[tuple[str, str]] = [
    # --- fix-stage data repairs, before normalize rules (stage order) ---
    # P12 doubled-URI value fix (fixRDF_before_validateRDFs.sh:408-409):
    # the whole value is one URL repeated twice → keep one copy
    (r"^(https?://.+)\1$", r"\1"),
    # P13 bare-& escape (fixRDF:412-413) net of the parser's unescape:
    # XML-escaped ampersands decode back to & in the IRI
    (r"&amp;", "&"),
    # --- normalize-stage alias rules ---
    # default-port strip
    (r"^(https?://[^/:]+):(?:443|80)(/|$)", r"\1\2"),
    # wikidata alias unification → http://www.wikidata.org/entity/Qn
    (r"^https?://(?:www\.|m\.)wikidata\.org/(?:wiki|entity)/", "http://www.wikidata.org/entity/"),
    # scheme-canonical domains: https → http
    (r"^https://((?:ipni|purl|isni)\.example)", r"http://\1"),
    # VIAF: strip trailing path / fragment after the numeric id
    (r"^(https?://viaf\.org/viaf/\d+)[/#].*$", r"\1"),
    # illegal-IRI percent encoding (global, one pass per character class)
    (r" ", "%20"),
    (r"\^", "%5E"),
    (r"`", "%60"),
    (r"\\", "%5C"),
    (r"\[", "%5B"),
    (r"\]", "%5D"),
    ("\uf021", "%EF%80%A1"),
    ("\uf022", "%EF%80%A2"),
]

_COMPILED = [(re.compile(p), r) for p, r in CANON_RULES]

_DOMAIN_RE = re.compile(r"^https?://([^/:]+)")


def canonicalize_py(url: str) -> str:
    for pat, repl in _COMPILED:
        url = pat.sub(repl, url)
    return url


def _java_repl(repl: str) -> str:
    # \1 → $1 (Java replacement syntax); literal $ and \ need escaping,
    # none occur in our replacements except the group refs.
    return re.sub(r"\\(\d)", r"$\1", repl)


_P12_PAT = CANON_RULES[0][0]
_P13_PAT = CANON_RULES[1][0]


def canonicalize_col(col: Column) -> Column:
    """The same rule chain as Catalyst expressions (RegExpReplace nodes —
    all inside one WholeStageCodegen span, no shuffle, no Python).

    Two rules get cheaper column forms than a regexp (the reference
    guards its expensive seds with a grep precheck the same way,
    fixRDF:368-369): the P12 backreference regex backtracks O(n²) on
    every non-doubled URL, so it runs only when a second scheme
    occurrence exists; P13 is a literal substring swap → ``F.replace``.
    Measured 25% off the whole chain at 2M URLs.

    DO NOT add more ``when(guard, regexp_replace(...)).otherwise(...)``
    prechecks here (round-6 lesson, measured then reverted): in the
    pipeline's collapsed annotate projection, ``obj_canon``'s expression
    tree is inlined into several outputs and conditional branches defeat
    codegen subexpression elimination, so every extra ``when`` level
    RE-EVALUATES the upstream chain per row. An isolated 2M-URL
    microbench showed guards 40% faster, but in situ (2-core leg,
    annotate noop at 40k convs) a percent-encoding guard DOUBLED the
    stage (12.1 → 25.0 s) and per-rule alias guards nearly quadrupled it
    (→ 46.3 s). The flat chain is the fast form where it actually runs."""
    out = col
    for pat, repl in CANON_RULES:
        if pat == _P12_PAT:
            fixed = F.regexp_replace(out, pat, _java_repl(repl))
            out = F.when(F.substring(out, 9, 1 << 30).contains("http"),
                         fixed).otherwise(out)
        elif pat == _P13_PAT:
            out = F.replace(out, F.lit("&amp;"), F.lit("&"))
        else:
            out = F.regexp_replace(out, pat, _java_repl(repl))
    return out


def url_domain_py(url: str) -> str | None:
    m = _DOMAIN_RE.match(url)
    return m.group(1) if m else None


def strip_scheme_col(col: Column) -> Column:
    """Anchored http(s) scheme strip as char-scan expressions (StartsWith
    + Substring — no regex; this runs per-row in the widest stages and
    the regex version measurably dominated their CPU). Anchoring matters:
    ``substring_index(col, '://', -1)`` takes the text after the LAST
    '://', so a URL with an embedded URL (…?to=http://b.example/x) would
    get b.example's domain — ``url_domain_py``/``match_keys_py`` anchor
    at the start."""
    return (F.when(col.startswith("https://"), F.substring(col, 9, 1 << 30))
            .when(col.startswith("http://"), F.substring(col, 8, 1 << 30))
            .otherwise(col))


def url_domain_col(col: Column) -> Column:
    """Host of a URL column — equivalent to ``url_domain_py`` for http(s)
    URLs (the only inputs it ever sees: subjects and IRI objects)."""
    after_scheme = strip_scheme_col(col)
    return F.substring_index(F.substring_index(after_scheme, "/", 1), ":", 1)


# deepest dictionary key: domain plus up to this many path segments; the
# Python keys here and the Column keys of operators/link.py share it
MAX_PATH_SEGS = 3


def match_keys_py(url: str) -> list[str]:
    """Candidate dictionary keys for one URL: domain, then domain plus the
    first 1..MAX_PATH_SEGS path segments (longest-prefix-wins matching of
    the reference's path-scoped sed addresses, e.g. JACQ.sh:614-630)."""
    stripped = re.sub(r"^https?://", "", url)
    parts = stripped.split("/")
    domain = parts[0].split(":")[0]
    keys = [domain]
    for k in range(1, min(MAX_PATH_SEGS, len(parts) - 1) + 1):
        seg = parts[k]
        if not seg or "?" in seg:
            break
        keys.append(domain + "/" + "/".join(parts[1 : k + 1]))
    return keys
