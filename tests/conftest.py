from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from glean_cetaf_rdfs_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def tiny_pdf():
    from glean_cetaf_rdfs_spark.data.synthetic import transcripts_pdf
    return transcripts_pdf(60)


@pytest.fixture(scope="session")
def tiny_df(spark, tiny_pdf):
    return spark.createDataFrame(tiny_pdf).cache()
