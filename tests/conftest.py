"""Shared pytest fixtures: one local SparkSession, fixture paths, query set."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TESTDATA = Path(os.environ.get("SPARKSEARCH_TESTDATA", "/root/testdata"))
SF_SMOKE = TESTDATA / "sf0.001"
SF_CORRECT = TESTDATA / "sf0.01"


@pytest.fixture(scope="session")
def spark():
    from sparksearch.session import get_spark

    s = get_spark("sparksearch-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def queries() -> list[tuple[int, str]]:
    qs = json.loads((REPO / "tests" / "queries.json").read_text())["queries"]
    return [(q["id"], q["text"]) for q in qs]


@pytest.fixture
def daat_paths(monkeypatch):
    """Iterate to run a check once per ``daat_topk`` execution path: the
    distributed one (no query is small enough for the driver), then the
    local one (every query is)."""
    from sparksearch import daat

    def paths():
        for name, limit in (("distributed", 0), ("local", 10**15)):
            monkeypatch.setattr(daat, "LOCAL_MAX_POSTINGS", limit)
            yield name

    return paths


@pytest.fixture(scope="session")
def docs_sf0001(spark):
    return spark.read.parquet(str(SF_SMOKE / "documents.parquet"))


@pytest.fixture(scope="session")
def docs_sf001(spark):
    return spark.read.parquet(str(SF_CORRECT / "documents.parquet"))


@pytest.fixture(scope="session")
def docs_pandas_sf001():
    import pyarrow.parquet as pq

    return pq.read_table(str(SF_CORRECT / "documents.parquet")).to_pandas()


@pytest.fixture(scope="session")
def oracle_sf001(docs_pandas_sf001):
    from oracle_bm25 import Bm25Oracle

    return Bm25Oracle(list(zip(docs_pandas_sf001.doc_id, docs_pandas_sf001.text)))
