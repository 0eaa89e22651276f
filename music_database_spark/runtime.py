"""Running and measuring one registered query.

This is the one place outside ``perfbench/`` that runs a query and
measures it: ``bench.py``, ``tools/coldsweep.py`` and ``tools/scalecheck.py
--heavy`` call ``run``, and tests count a block's Spark work with
``job_group``.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from music_database_spark import session


@contextmanager
def job_group(spark: SparkSession, name: str) -> Iterator[dict[str, int]]:
    """Run the body under Spark job group ``name``. Once the body
    returns, the yielded dict holds the jobs, stages and tasks it started
    in that group, read from the status tracker after the listener has
    recorded every finished job."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(name))
    counts: dict[str, int] = {}
    sc.setJobGroup(name, name)
    try:
        yield counts
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [j for j in tracker.getJobIdsForGroup(name) if j not in before]
    stages = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    tasks = sum(si.numTasks for s in stages if (si := tracker.getStageInfo(s)))
    counts.update(jobs=len(jobs), stages=len(stages), tasks=tasks)


def plan_exchanges(plan) -> int:
    """Shuffle and broadcast Exchange operators in an executed plan tree
    (a py4j SparkPlan): an adaptive node counts through its current
    plan and a query stage through its exchange. Nothing under an
    InMemoryTableScan counts: the run reads that cached subplan, it
    does not execute it."""
    name = plan.getClass().getSimpleName()
    if name == "InMemoryTableScanExec":
        return 0
    if name == "AdaptiveSparkPlanExec":
        return plan_exchanges(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return plan_exchanges(plan.plan())
    n = int(name in ("ShuffleExchangeExec", "BroadcastExchangeExec"))
    children = plan.children().iterator()
    while children.hasNext():
        n += plan_exchanges(children.next())
    return n


def run(
    spark: SparkSession,
    name: str,
    build: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
    warm: int,
) -> dict:
    """One cold run of ``build(spark, sf_dir)`` into the noop sink, then
    ``warm`` warm runs, each timed from build to the sink's end under job
    group ``name``. The warm runs reuse the caches the query itself took;
    ``session.release()`` drops them once, after the last run, also when
    a run raises.

    The noop sink makes the number plan execution, not the transfer of
    result rows to the driver. Returns ``{cold_s, warm_s, jobs, stages,
    tasks, plan_exchanges}``; the counts and the Exchange count of the
    executed plan are the cold run's, whose build already ran every
    build-time job (an iterative query's rounds), so no second build is
    needed for its plan."""
    try:
        for i in range(warm + 1):
            with job_group(spark, name) as counts:
                t0 = time.time()
                df = build(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
            if i == 0:
                plan = df._jdf.queryExecution().executedPlan()
                rec = {"cold_s": dt, "warm_s": [], **counts, "plan_exchanges": plan_exchanges(plan)}
            else:
                rec["warm_s"].append(dt)
        return rec
    finally:
        session.release()
