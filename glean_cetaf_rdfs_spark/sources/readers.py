"""Source operators (SURVEY.md §2.1): the transcript reader and the S4
input gate.

Spark gives the mechanics (decompression, pushdown, schema) for free;
what carries over from the reference's text sources is the *semantics*:
schema validation on read, malformed input counted not fatal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

TRANSCRIPT_SCHEMA = Ty.StructType([
    Ty.StructField("conv_id", Ty.StringType(), False),
    Ty.StructField("turn_idx", Ty.IntegerType(), False),
    Ty.StructField("role", Ty.StringType(), True),
    Ty.StructField("text", Ty.StringType(), True),
    Ty.StructField("tool", Ty.StringType(), True),
    Ty.StructField("ts", Ty.TimestampType(), True),
])


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Primary input: the transcript table (Iceberg at scale; parquet
    fallback here — the Iceberg runtime jar isn't in this image).
    Explicit schema — schema-on-read validation, never inference."""
    fmt = "parquet"
    try:  # Iceberg if the catalog is on the classpath
        if spark.conf.get("spark.sql.catalog.spark_catalog", None):
            fmt = "iceberg"
    except Exception:  # noqa: BLE001
        pass
    reader = spark.read.format(fmt)
    if fmt == "parquet":
        reader = reader.schema(TRANSCRIPT_SCHEMA)
    return reader.load(path)


def gate_well_formed(transcripts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S4 — input gate (fixRDF…:287,319-334 MIME check): split rows that
    violate the input contract (null key, negative turn_idx, null text)
    into a quarantine frame counted to lineage instead of failing the job
    (the reference warns + skips non-text/xml shards)."""
    ok = (F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
          & (F.col("turn_idx") >= 0) & F.col("text").isNotNull())
    return transcripts.filter(ok), transcripts.filter(~ok)
