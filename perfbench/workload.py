"""Seeded workload inputs, the cached oracle, and the exact output check.

An input is the transcript table the program reads (one parquet file).
It is a pure function of (workload, seed, size, generator source): the
seed picks the conversation-id offset handed to ``gen_conversation`` and,
for ``kg_sparse_text``, the RNG that blanks turn texts. Each input and
its oracle answer are written once under the benchmark's cache directory.

The check is exact: the output's row count and an order-independent
digest (wrapping sum of per-row 64-bit hashes) must equal the oracle's.
Only on a mismatch is the symmetric difference computed, to report how
many triples are wrong.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

COLS = ["graph", "subj", "pred", "obj", "obj_is_iri"]

# name -> (turns, share of turns reduced to plain text)
WORKLOADS = {
    "kg_batch": (10_000, 0.0),
    "kg_sparse_text": (10_000, 0.9),
}

_ID_SPACE = 1 << 31  # gen_conversation seeds numpy with GLOBAL_SEED + id


def conv_offset(seed: int, n_turns: int) -> int:
    """First conversation id of the seed's input; seeds map to disjoint
    id ranges (each input uses fewer than ``n_turns`` conversations)
    until they wrap the id space."""
    return (seed * n_turns) % (_ID_SPACE - n_turns)


def make_transcripts(seed: int, n_turns: int, plain_share: float) -> pd.DataFrame:
    """Whole conversations from the seed's offset until ``n_turns`` turns
    are reached: a fixed size in turns, whose conversation count varies
    with the generator's Zipf-distributed lengths."""
    from glean_cetaf_rdfs_spark.data.synthetic import gen_conversation

    rows: list[dict] = []
    i = conv_offset(seed, n_turns)
    while len(rows) < n_turns:
        rows.extend(gen_conversation(i))
        i += 1
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    if plain_share > 0:
        # same conversations and turns; most texts become the generator's
        # own no-mention fallback "<role> message <n>" (tool turns keep
        # their "[<tool> result]" prefix, as the generator writes them)
        rng = np.random.RandomState([seed % (1 << 32), 0x5EED])
        plain = rng.rand(len(pdf)) < plain_share
        nums = pd.Series(rng.randint(10000, size=len(pdf)), index=pdf.index).astype(str)
        text = pdf["role"] + " message " + nums
        prefix = ("[" + pdf["tool"] + " result] ").where(pdf["tool"].notna(), "")
        pdf.loc[plain, "text"] = (prefix + text)[plain]
    return pdf


def write_transcripts(pdf: pd.DataFrame, path: Path) -> None:
    # Spark reads microsecond timestamps; pandas holds nanoseconds
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us")


def oracle_frame(triples: set) -> pd.DataFrame:
    df = pd.DataFrame(list(triples), columns=COLS)
    df["obj_is_iri"] = df["obj_is_iri"].astype(bool)
    return df


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, wrapping uint64 sum of row hashes): equal multisets give
    equal digests whatever the row order."""
    h = pd.util.hash_pandas_object(df[COLS], index=False).to_numpy(np.uint64)
    return len(h), int(h.sum(dtype=np.uint64))


def read_table(path: str, columns: list[str] = COLS) -> pd.DataFrame:
    """A graph table written ``partitionBy(...)`` by Spark, read with
    pyarrow; partition values come back as plain strings."""
    tbl = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    df = tbl.select(columns).to_pandas()
    for c in columns:
        if isinstance(df[c].dtype, pd.CategoricalDtype):
            df[c] = df[c].astype(str)
    df["obj_is_iri"] = df["obj_is_iri"].astype(bool)
    return df


def wrong_triples(got: pd.DataFrame, want: pd.DataFrame,
                  want_digest: tuple[int, int]) -> int:
    """0 when ``got`` equals ``want`` as a multiset, else the size of the
    symmetric difference (plus any duplicate rows in ``got``)."""
    if digest(got) == want_digest:
        return 0
    got_rows = list(got[COLS].itertuples(index=False, name=None))
    got_set = set(got_rows)
    want_set = set(want[COLS].itertuples(index=False, name=None))
    return len(got_set ^ want_set) + (len(got_rows) - len(got_set))


class Input:
    """One cached input directory: transcripts, oracle and facts."""

    def __init__(self, cache_root: Path, workload: str, seed: int,
                 fingerprint: str):
        n_turns, plain_share = WORKLOADS[workload]
        self.workload, self.seed, self.n_turns = workload, seed, n_turns
        self.dir = cache_root / f"{workload}-s{seed}-t{n_turns}-{fingerprint}"
        self.transcripts = str(self.dir / "transcripts.parquet")
        if not (self.dir / "meta.json").is_file():
            self._build(plain_share)
        self.meta = json.loads((self.dir / "meta.json").read_text())
        self.oracle = pd.read_parquet(self.dir / "oracle.parquet")
        self.oracle_digest = tuple(self.meta["oracle_digest"])

    def _build(self, plain_share: float) -> None:
        from glean_cetaf_rdfs_spark.oracle import oracle_triples

        tmp = self.dir.with_name(self.dir.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        pdf = make_transcripts(self.seed, self.n_turns, plain_share)
        write_transcripts(pdf, tmp / "transcripts.parquet")
        oracle = oracle_frame(oracle_triples(pdf))
        oracle.to_parquet(tmp / "oracle.parquet", index=False)
        meta = {"turns": len(pdf), "convs": int(pdf["conv_id"].nunique()),
                "conv_offset": conv_offset(self.seed, self.n_turns),
                "oracle_digest": list(digest(oracle))}
        (tmp / "meta.json").write_text(json.dumps(meta))
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)

    def per_bucket_oracle(self, buckets: pd.DataFrame) -> pd.DataFrame:
        """Union of the oracle run on each bucket's conversations alone —
        what a bucket-at-a-time build computes. ``buckets`` maps
        conv_id -> bucket. Cached next to the one-shot oracle."""
        from glean_cetaf_rdfs_spark.oracle import oracle_triples

        n = int(buckets["bucket"].max()) + 1
        path = self.dir / f"oracle_buckets{n}.parquet"
        if not path.is_file():
            pdf = pd.read_parquet(self.transcripts).merge(buckets, on="conv_id")
            triples: set = set()
            for _, part in pdf.groupby("bucket"):
                triples |= oracle_triples(part.drop(columns="bucket"))
            oracle_frame(triples).to_parquet(path, index=False)
        return pd.read_parquet(path)
