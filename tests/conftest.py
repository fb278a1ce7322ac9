"""Shared Spark fixture for the ner_spark test suite.

One session-scoped local[N] session (N = SPARK_GRAFT_CPUS, else the
host's CPU count) keeps the suite fast; individual tests that need to
prove parallelism-invariance build their own frames with explicit
repartition() instead of new sessions.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ner_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ner_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
