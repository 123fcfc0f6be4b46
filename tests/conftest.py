"""Shared fixtures: one SparkSession per test run, one tiny synthetic corpus.

Mirrors the reference's deterministic fixture design (reference:
tests/conftest.py:27-46 — fixed seed, small sample, abort-on-missing).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocrd_anybaseocr_spark.sources import session_cache  # noqa: E402
from ocrd_anybaseocr_spark.sources.tables import spark_session  # noqa: E402
from ocrd_anybaseocr_spark.synth import generate_corpus  # noqa: E402

SEED = 42
N_DOCS = 24


@pytest.fixture(scope="session")
def spark():
    s = spark_session(cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _clear_session_caches():
    """A fresh session-relation registry for each test: tests that
    monkeypatch load_table with a shared fake sf_dir ('unused') would
    otherwise read a PREVIOUS test's planted relation out of it."""
    session_cache.clear()
    yield


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    generate_corpus(d, N_DOCS, seed=SEED)
    return d


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
