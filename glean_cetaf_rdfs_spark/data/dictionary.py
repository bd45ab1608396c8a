"""Entity / institution dictionary — the broadcast lookup table.

Mirrors the reference's ``ROR_OR_INSTITUTION`` associative array and the
generated per-institution sed blocks (generate_sed-expr4ROR-id.sh:12-74,
98-169 in /root/reference): the institution→identifier mapping is *data*,
shipped as a small DataFrame and broadcast into the linking join — never
code. Includes the reference's edge cases:

* two keys → one id (pi/piagr analog, JACQ.sh:661-690),
* a path-scoped key (lagu.jacq.org/object analog, JACQ.sh:614-630),
* publisher-only entry with no canonical id (willing analog, JACQ.sh:766-780),
* VIAF fallbacks where no ROR exists (admont/bak/dr/kiel/ubt, JACQ.sh:434+),
* conditional literal rules (tun.fi collectionCode → ROR,
  convertRDF4import_normal-files_Finland.sh:471-522).

Domains here are synthetic (.example hosts) — the *shape* of the mapping is
what the reference defines; no external data is used.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame

ROR = "https://ror.org/"
VIAF = "http://viaf.org/viaf/"

# (match_kind, match_key, canonical_id, umbrella, publisher, add_conforms_to)
# match_kind: domain_prefix | path_prefix | literal_cond
ENTITY_DICTIONARY: list[tuple[str, str, str | None, str | None, str | None, bool]] = [
    # jacq-style sub-domain cluster under one umbrella (JACQ.sh:434-812)
    ("domain_prefix", "dr.herbaria.example", VIAF + "155418159", "http://herbaria.example", None, True),
    ("domain_prefix", "admont.herbaria.example", VIAF + "128466393", "http://herbaria.example", None, True),
    ("domain_prefix", "bak.herbaria.example", VIAF + "128699910", "http://herbaria.example", None, True),
    ("domain_prefix", "boz.herbaria.example", ROR + "01h1jbk91", "http://herbaria.example", None, True),
    ("domain_prefix", "gat.herbaria.example", ROR + "02skbsp27", "http://herbaria.example", None, True),
    ("domain_prefix", "gjo.herbaria.example", ROR + "00nxtmb68", "http://herbaria.example", None, True),
    ("domain_prefix", "gzu.herbaria.example", ROR + "01faaaf77", "http://herbaria.example", None, True),
    ("domain_prefix", "hal.herbaria.example", ROR + "05gqaka33", "http://herbaria.example", None, True),
    ("domain_prefix", "je.herbaria.example", ROR + "05qpz1x62", "http://herbaria.example", None, True),
    ("domain_prefix", "kiel.herbaria.example", VIAF + "239180770", "http://herbaria.example", None, True),
    ("domain_prefix", "lz.herbaria.example", ROR + "03s7gtk40", "http://herbaria.example", None, True),
    ("domain_prefix", "mjg.herbaria.example", ROR + "023b0x485", "http://herbaria.example", None, True),
    ("domain_prefix", "ubt.herbaria.example", VIAF + "142509930", "http://herbaria.example", None, True),
    ("domain_prefix", "wu.herbaria.example", ROR + "03prydq77", "http://herbaria.example", None, True),
    # two keys → one id (pi/piagr analog, JACQ.sh:661-690)
    ("domain_prefix", "pi.herbaria.example", ROR + "03ad39j10", "http://herbaria.example", None, True),
    ("domain_prefix", "piagr.herbaria.example", ROR + "03ad39j10", "http://herbaria.example", None, True),
    # path-scoped key + publisher (lagu analog, JACQ.sh:614-630)
    ("path_prefix", "lagu.herbaria.example/object", ROR + "01j60ss54", "http://herbaria.example",
     "http://botanico.example.sv", True),
    # publisher-only entry — no canonical id grafted (willing analog, JACQ.sh:766-780)
    ("domain_prefix", "willing.herbaria.example", None, "http://herbaria.example",
     "http://willing-botanik.example", False),
    # national-aggregator cluster (Finland analog, Finland.sh:438-464)
    ("domain_prefix", "id.luomus.example", ROR + "03tcx6c30", "http://gbif.example", None, True),
    ("domain_prefix", "id.herb.oulu.example", ROR + "03yj89h83", "http://gbif.example", None, True),
    # conditional literal rules: aggregator domain, id chosen by collection code
    # (Finland.sh:471-522) — match_key is "domain|literal"
    ("literal_cond", "tun.example|Hatikka.fi observations", ROR + "03tcx6c30", "http://gbif.example", None, True),
    ("literal_cond", "tun.example|Vascular Plant Herbarium", ROR + "03tcx6c30", "http://gbif.example", None, True),
    ("literal_cond", "tun.example|Herbarium OULU", ROR + "03yj89h83", "http://gbif.example", None, True),
    ("literal_cond", "tun.example|Herbarium OULU (coll. Huttunen)", ROR + "03yj89h83", "http://gbif.example", None, True),
    ("literal_cond", "tun.example|TUR-A", ROR + "029pk6x14", "http://gbif.example", None, True),
    ("literal_cond", "tun.example|TUR Herbarium", ROR + "05vghhr25", "http://gbif.example", None, True),
    # museum-path cluster (Paris analog, Paris.sh:413-426): per-collection paths
    ("path_prefix", "coldb.museum.example/catalognumber/museum/p", ROR + "03wkt5x30",
     "http://coldb.museum.example/catalognumber/museum/p/", None, True),
    ("path_prefix", "coldb.museum.example/catalognumber/museum/pc", ROR + "03wkt5x30",
     "http://coldb.museum.example/catalognumber/museum/pc/", None, True),
    # single-domain institutions (BGBM/Naturalis/RBGE/RBGK/Meise/SMNS/SNSB analogs)
    ("domain_prefix", "id.garden.example", ROR + "00bv4cx53", "http://garden.example", None, True),
    ("domain_prefix", "data.biodiversity.example", ROR + "0566bfb96", "http://biodiversity.example", None, True),
    ("domain_prefix", "data.rbge.example", ROR + "0349vqz63", "http://rbge.example", "http://rbge.example", True),
    ("domain_prefix", "specimens.kew.example", ROR + "00ynnr806", "http://kew.example", None, True),
    ("domain_prefix", "www.botanicalcollections.example", ROR + "01h1jbk91", "http://meise.example", None, True),
    ("domain_prefix", "collections.naturkunde.example", ROR + "05k35b119", "http://naturkunde.example", None, True),
    # one institution, two path spellings (SNSB analog, SNSB.sh:413,426)
    ("path_prefix", "id.snsb.example/snsb", ROR + "05th1v540", "http://snsb.example", None, True),
    ("path_prefix", "id.snsb.example/collections", ROR + "05th1v540", "http://snsb.example", None, True),
]

DICT_SCHEMA = ("match_kind string, match_key string, canonical_id string, "
               "umbrella string, publisher string, add_conforms_to boolean")

# https→http scheme-canonical domains (P18, JACQ.sh:363-367)
HTTP_SCHEME_DOMAINS = ["ipni.example", "purl.example", "isni.example"]


def entity_dictionary_df(spark: SparkSession) -> DataFrame:
    """The dictionary as a local-relation DataFrame — small enough that
    Catalyst broadcast-joins it everywhere (reference codegens it into
    sed blocks; we broadcast it, SURVEY.md §2.3 J1). Building the
    broadcast reads the driver-held rows; no Python worker runs."""
    return local_frame(spark, ENTITY_DICTIONARY, DICT_SCHEMA)


def domain_rules() -> dict[str, tuple[str | None, str | None, str | None, bool]]:
    """domain_prefix rules as a plain dict (for the pure-Python oracle)."""
    return {
        k: (cid, umb, pub, act)
        for kind, k, cid, umb, pub, act in ENTITY_DICTIONARY
        if kind == "domain_prefix"
    }


def path_rules() -> dict[str, tuple[str | None, str | None, str | None, bool]]:
    return {
        k: (cid, umb, pub, act)
        for kind, k, cid, umb, pub, act in ENTITY_DICTIONARY
        if kind == "path_prefix"
    }


def literal_rules() -> dict[tuple[str, str], tuple[str | None, str | None, str | None, bool]]:
    out = {}
    for kind, k, cid, umb, pub, act in ENTITY_DICTIONARY:
        if kind == "literal_cond":
            dom, lit = k.split("|", 1)
            out[(dom, lit)] = (cid, umb, pub, act)
    return out
