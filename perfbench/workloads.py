"""The benchmark's workloads: which registered queries each one runs, and
the sink each query's result goes to.

Both are closed loops with one client: the next query starts only after
the previous one returned. Every query is bench-enabled and has a DuckDB
oracle (test_perfbench.py pins this).
"""

from __future__ import annotations

from dataclasses import dataclass

# Generated input size and generator seed. sf0.01 is the scale of the
# oracle correctness checks (TESTDATA.md); at sf0.1 one warm pass of these
# lists takes 8-24 s on 4 cores, which leaves no room for warm-up inside
# one run's time budget.
SF = 0.01
DATA_SEED = 42


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    sink: str  # "collect": rows to the driver (toPandas); "noop": execute only


WORKLOADS: dict[str, Workload] = {
    # The reference's six queries plus the SQL front door, collected as an
    # interactive user runs them: per-query fixed cost (schema-inference
    # jobs, planning, job launch, collect) dominates.
    "ref_interactive": Workload(
        (
            "q1_singles_by_artist",
            "q2_last_in_year",
            "q3_genre_counts",
            "q4_both_kinds",
            "q5_top_rated",
            "q6_active_users",
            "x_sql_frontdoor",
        ),
        "collect",
    ),
    # An iterative and a rank-family query (per-merge-round argmax
    # collects, rank-boundary collects): most of their jobs are issued by
    # the driver while the plan is built.
    "driver_loops": Workload(("x_bpe_train", "x_mann_whitney"), "noop"),
}
