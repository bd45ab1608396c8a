"""Extraction stage: transcripts → raw (conv_id, subj, pred, obj, obj_is_iri) rows.

The engine's replacement for the reference's per-file JVM ``rdfparse``
subprocess (convertRDF4import_normal-files_JACQ.sh:355), in two narrow
branches over the same turns, unioned:

* the text-derived rows: an Arrow-vectorized ``mapInPandas`` (UDTF-shaped:
  one turn → N rows) reads only ``(conv_id, turn_idx, text)`` and yields
  ``(conv_id, turn_idx, pred, obj, obj_is_iri)``; the subject URI is
  rebuilt in the JVM, so it never crosses the Arrow boundary;
* the skeleton rows every turn gets whatever its text (rdf:type, isPartOf,
  roleName, created, prov:used when a tool is set): Catalyst expressions,
  one explode per turn, no Python.

About two thirds of the raw rows are skeleton rows (kg_batch), so the UDF
returns a third of what it did when it built every row. Neither branch
shuffles: each input partition yields its triples in place, so
throughput scales linearly with cores.

``conv_id`` is carried through for lineage/resume bucketing and dropped at
materialization.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..data import vocab as V
from ..functions.extraction_rules import text_triples

TEXT_SCHEMA = ("conv_id string, turn_idx int, pred string, obj string, "
               "obj_is_iri boolean")


def _text_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        # the loop is per-turn, not per-triple; output accumulates per
        # COLUMN (list-of-tuples + DataFrame(rows) paid a per-row tuple
        # unpack in the constructor)
        conv_ids: list = []
        turn_idxs: list = []
        preds: list = []
        objs: list = []
        iris: list = []
        for cid, idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
            for p, o, i in text_triples(text):
                conv_ids.append(cid)
                turn_idxs.append(idx)
                preds.append(p)
                objs.append(o)
                iris.append(i)
        yield pd.DataFrame({"conv_id": conv_ids,
                            "turn_idx": pd.Series(turn_idxs, dtype="int32"),
                            "pred": preds, "obj": objs, "obj_is_iri": iris})


def _turn_uri_col() -> Column:
    """``vocab.turn_uri`` as a Column."""
    return F.concat(F.lit(V.conv_uri("")), F.col("conv_id"), F.lit("/turn/"),
                    F.col("turn_idx").cast("string"))


def skeleton_triples(transcripts: DataFrame) -> DataFrame:
    """The Catalyst form of ``extraction_rules.turn_skeleton_triples``:
    one struct per candidate row, exploded; a row whose object is null
    (null role, null ts, no tool) is not emitted. ``created`` is
    formatted in the session time zone (UTC, see session.get_spark)."""
    def row(pred: str, obj: Column, iri: bool) -> Column:
        return F.struct(F.lit(pred).alias("pred"), obj.alias("obj"),
                        F.lit(iri).alias("obj_is_iri"))

    tool = F.col("tool")
    rows = F.array(
        row(V.RDF_TYPE, F.lit(V.O_TURN_TYPE), True),
        row(V.P_IS_PART_OF, F.concat(F.lit(V.conv_uri("")), F.col("conv_id")), True),
        row(V.P_ROLE, F.col("role"), False),
        row(V.P_CREATED, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"), False),
        # Python's `if tool:` — null and "" emit nothing
        row(V.P_USED_TOOL, F.when(tool != "", F.concat(F.lit(V.tool_uri("")), tool)),
            True),
    )
    return (transcripts
            .select("conv_id", _turn_uri_col().alias("subj"),
                    F.explode(rows).alias("t"))
            .select("conv_id", "subj", "t.*")
            .filter(F.col("obj").isNotNull()))


def extract_triples(transcripts: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → raw triples
    (conv_id, subj, pred, obj, obj_is_iri): the text-derived rows unioned
    with the skeleton rows."""
    text = (transcripts.select("conv_id", "turn_idx", "text")
            .mapInPandas(_text_batches, schema=TEXT_SCHEMA)
            .select("conv_id", _turn_uri_col().alias("subj"), "pred", "obj",
                    "obj_is_iri"))
    return text.unionByName(skeleton_triples(transcripts))
