from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from music_database_spark.session import get_spark

    s = get_spark("tests", cpus="4", shuffle_partitions=8)
    yield s
    from music_database_spark.session import release

    release()
    s.stop()


@pytest.fixture(scope="session")
def reference_tables(spark):
    from music_database_spark.sources.fixtures import load_reference_fixture

    return load_reference_fixture(spark, register=True)
