"""Count Spark jobs, stages and tasks for registered queries — a
host-noise-FREE structural metric for orchestration overhead. Wall-clock
on this sandbox drifts 1.3x with hypervisor contention (BENCH r10/r12
adjudications), so sub-second plan-shape wins need a deterministic
counter: a removed broadcast-build job or exchange shows up here
identically on a loud or quiet host. Usage:

    python tools/jobcount.py <query> [query ...] [--sf SF_DIR]

Prints per query: jobs, stages, tasks for one warm execution (one
throwaway build first so one-time codegen/broadcast warmup is not
attributed), plus the Exchange count of the final plan."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from music_database_spark.operators.ranking import release_rank_caches  # noqa: E402
from music_database_spark.registry import load_all  # noqa: E402
from music_database_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_counted(spark, build, sf_dir: str, group: str) -> tuple[int, int, int, int]:
    """One counted build-and-run: jobs, stages, tasks, and the Exchange
    count of the executed plan of the DataFrame that run built (an
    iterative query's build runs every round's collect, so a second
    build just for the plan would repeat them)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    df = build(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info:
            stages.update(info.stageIds)
    for s in stages:
        si = tracker.getStageInfo(s)
        if si:
            tasks += si.numTasks
    nexch = df._jdf.queryExecution().executedPlan().toString().count("Exchange")
    return len(jobs), len(stages), tasks, nexch


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(
        description="Count Spark jobs/stages/tasks for registered queries"
    )
    ap.add_argument("queries", nargs="+", help="registered query names")
    ap.add_argument("--sf", default=SF_DIR, help="scale-factor data dir")
    ns = ap.parse_args()
    args, sf_dir = ns.queries, ns.sf
    reg = load_all()
    spark = get_spark("jobcount")
    for name in args:
        spec = reg[name]
        # throwaway run: codegen compile, cache materialization paths warm
        spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        release_rank_caches()
        jobs, stages, tasks, nexch = run_counted(spark, spec.build, sf_dir, f"jc_{name}")
        print(f"{name}: jobs={jobs} stages={stages} tasks={tasks} plan_exchanges={nexch}")
        spark.catalog.clearCache()
        release_rank_caches()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
