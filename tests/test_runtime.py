"""runtime.run, the one way a harness runs and measures a registered
query: the record it returns, where its counts come from, and that it
releases the query's caches and checkpoints however the run ends."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from music_database_spark.registry import load_all
from music_database_spark.runtime import run
from music_database_spark.session import cached, checkpoint, release
from tests.conftest import SF_SMOKE as SF

Q = "x_mann_whitney"


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(autouse=True)
def _nothing_persisted(spark):
    spark.catalog.clearCache()  # what other tests left
    release()


def test_run_records_the_cold_run_and_releases(spark):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(Q))
    rec = run(spark, Q, load_all()[Q].build, SF, warm=0)
    assert set(rec) == {"cold_s", "warm_s", "jobs", "stages", "tasks", "plan_exchanges"}
    assert rec["cold_s"] > 0 and rec["warm_s"] == []
    jobs = [j for j in tracker.getJobIdsForGroup(Q) if j not in before]
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    assert rec["jobs"] == len(jobs) > 0
    assert rec["stages"] == len(stages)
    assert rec["tasks"] >= rec["stages"]
    assert rec["plan_exchanges"] > 0
    assert _persisted(spark) == 0


def test_warm_runs_are_timed_and_released(spark):
    rec = run(spark, Q, load_all()[Q].build, SF, warm=2)
    assert len(rec["warm_s"]) == 2 and all(t > 0 for t in rec["warm_s"])
    assert _persisted(spark) == 0


def test_a_build_that_raises_still_releases(spark):
    def broken(spark, sf_dir):
        base = spark.range(100).select((F.col("id") % 7).alias("k"))
        assert cached(base.groupBy("k").count()).count() == 7
        assert checkpoint(base.distinct(), eager=True).count() == 7
        raise ValueError("broken build")

    with pytest.raises(ValueError, match="broken build"):
        run(spark, "broken", broken, SF, warm=1)
    assert _persisted(spark) == 0
