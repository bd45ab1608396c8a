"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side machinery — schema, partitioning, Arrow batch shape, UDF
signatures — is real and tested; the actual codec work is stubbed behind
``FakeCodec`` (deterministic, derived from the payload bytes) because no
image/audio libraries ship with the package. Swapping in Pillow/ffmpeg
replaces the one ``FakeCodec.decode`` call; nothing in the plan changes.

Design points for 100 TB:
* payloads stay in executor memory only batch-at-a-time (``mapInPandas``
  iterator — never collect),
* ``spark.sql.files.maxPartitionBytes`` / ``maxRecordsPerBatch`` bound
  Arrow batch size when payloads are MB-scale,
* metadata extraction is a narrow map — no shuffle until the (small)
  metadata table is aggregated.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ASSET_SCHEMA = ("asset_id long, kind string, payload binary, "
                "src_len int")

META_SCHEMA = ("asset_id long, kind string, n_bytes int, sha256 string, "
               "width int, height int, channels int, duration_ms int")


class FakeCodec:
    """Deterministic stand-in for image/audio decode. Real decode would
    raise on corrupt payloads; the fake derives plausible metadata from
    the bytes so plumbing tests are meaningful."""

    @staticmethod
    def decode(payload: bytes, kind: str) -> dict:
        if payload is None or len(payload) == 0:
            raise ValueError("empty payload")
        digest = hashlib.sha256(payload).hexdigest()
        seed = int(digest[:8], 16)
        meta = {"n_bytes": len(payload), "sha256": digest,
                "width": None, "height": None, "channels": None,
                "duration_ms": None}
        if kind == "image":
            meta.update(width=64 + seed % 1024, height=64 + (seed >> 10) % 1024,
                        channels=3)
        elif kind in ("audio", "video"):
            meta.update(duration_ms=100 + seed % 600000)
            if kind == "video":
                meta.update(width=320 + seed % 1600, height=240 + (seed >> 8) % 900,
                            channels=3)
        return meta


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Build a binary-asset table from the documents fixture: payload =
    utf-8 bytes of the text, kind cycled by doc_id — the plumbing is what
    matters, not the bytes."""
    kind = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                        (F.col("doc_id") % 3 + 1).cast("int"))
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.length("text").cast("int").alias("src_len"),
    )


def extract_metadata(assets: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction: one asset row in → EXACTLY one
    metadata row out. Byte-level facts (n_bytes, sha256) are computed
    unconditionally; decode-derived fields (dims/duration) are null when
    the codec rejects the payload — corrupt assets stay visible (and
    countable via ``width IS NULL``-style filters) instead of silently
    vanishing from row-count reconciliations."""

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                payload = bytes(r.payload) if r.payload is not None else b""
                base = {"asset_id": r.asset_id, "kind": r.kind,
                        "n_bytes": len(payload),
                        "sha256": hashlib.sha256(payload).hexdigest(),
                        "width": None, "height": None, "channels": None,
                        "duration_ms": None}
                try:
                    base.update(FakeCodec.decode(payload, r.kind))
                except (ValueError, TypeError):
                    pass  # decode failure → null decode fields
                rows.append(base)
            yield pd.DataFrame(rows, columns=["asset_id", "kind", "n_bytes", "sha256",
                                              "width", "height", "channels",
                                              "duration_ms"])

    return assets.mapInPandas(run, schema=META_SCHEMA)


def frame_sample_plan(meta: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for videos: one row per planned frame via
    sequence+explode (the decode of each frame happens payload-side)."""
    vids = meta.filter(F.col("kind") == "video")
    return (vids.select(
        "asset_id",
        F.explode(F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms)))
        .alias("frame_ts_ms"))
    )
