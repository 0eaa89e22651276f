"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Everything is served from ``music_database_spark.registry`` — each
operator from SURVEY.md §2 registers a (build, oracle) QuerySpec there;
this module is only the adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver may import this file with any cwd; make the package importable
# from the file's own directory (workers inherit it via spark.submit side
# effects of the same path insertion in the driver process).
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from music_database_spark.registry import load_all  # noqa: E402
from music_database_spark.session import tune_for_session  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "q6_active_users"  # SURVEY.md §7.2 step 2

Build = Callable[[SparkSession, str], DataFrame]


def _tuned(build: Build) -> Build:
    """``build`` on the driver's session after ``tune_for_session``: the
    session conventions (session.py) are applied where a session enters
    the engine, not by the table reads inside a build."""
    return lambda spark, sf_dir: build(tune_for_session(spark), sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return queries()[FLAGSHIP](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Build]:
    """One entry per implemented operator from SURVEY.md §2 — the whole
    registry, each build run on the tuned session. Computed/aggregate
    columns are aliased identically to the oracle on both sides."""
    return {name: _tuned(spec.build) for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """ANSI-SQL oracles (DuckDB) for every SQL-expressible query; rows-only
    queries (sketches, streaming, approximate ops) register oracle=None
    and are omitted here, so the driver records the weaker check."""
    return {name: spec.oracle for name, spec in load_all().items() if spec.oracle}
