"""Benchmark runner — times every registered bench query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "total_median_sec", "value": N, "unit": "sec", "sf": 0.1,
     "cpus": C, "geomean_vs_v1": G, "worst3_vs_v1": {...}, ...,
     "queries_file": "BENCH_FULL_c<C>.json"}

The driver captures only the LAST 2000 characters of stdout, and a
per-query map for ~270 queries is ~6 KB, so the final line carries only
the total, the counts, the geomean against the BASELINE.md §3 v1
ratchets and the worst-3 ratio queries. The complete per-query record
is written to BENCH_FULL.json and, for full runs, to the per-core-count
BENCH_FULL_c<C>.json the final line names (the driver benches at two
core counts, and each run keeps its own file); a subset run writes
BENCH_SUBSET.json instead.

Protocol (BASELINE.md §2): per query, 1 warm-up execution then
BENCH_RUNS timed executions (default 3), median recorded. Execution is
measured with the noop sink so the number is plan execution, not
driver-transfer of result rows.

Host-noise self-adjudication (round 11): the r10 driver recording
drifted a uniform 1.31x on a contended host and needed a judge to
re-measure three queries by hand. Each query's timing window now
records the fraction of machine CPU consumed OUTSIDE this bench's
process tree (/proc/stat busy minus our tree's jiffies — loadavg alone
cannot tell our local[32] saturation from foreign load), written to
BENCH_FULL.json as host_busy/host_noise/host_noisy_queries/loadavg and
summarized in the final line, so a slow artifact carries its own
adjudication."""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from music_database_spark.registry import load_all  # noqa: E402
from music_database_spark.session import get_spark, release  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("BENCH_RUNS", "3"))
# Core count of this run, for the per-CPUs record filename and the
# machine-readable lines: the driver benches at two core counts to
# measure scaling, and both runs must stay distinguishable. get_spark
# uses local[*] when the env var is unset, hence the cpu_count default.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or (os.cpu_count() or 0))

# A per-query foreign-CPU share above this marks the measurement window
# noisy; the round-10 bench recording drifted a uniform 1.31x on a
# contended host and needed a judge to adjudicate it — these fields make
# the artifact carry its own adjudication.
HOST_NOISE_FRAC = 0.10


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    return float(m.group(1)) if m else -1.0


def _host_busy_jiffies() -> int:
    """Total non-idle jiffies across all CPUs from /proc/stat line 1.
    INCLUDES steal (field 8): on a VM, hypervisor steal starves the
    bench exactly like a foreign process, so it must contaminate the
    window; _host_steal_jiffies reports it separately so the record
    can say WHICH kind of noise it was. EXCLUDES guest/guest_nice
    (fields 9-10): the kernel already folds vCPU-guest time into
    user/nice, so summing them double-counts VM load and can
    false-flag quiet windows (round-11 ADVICE)."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    guest = sum(vals[8:10]) if len(vals) > 8 else 0
    return sum(vals) - vals[3] - vals[4] - guest  # minus idle+iowait+guest


def _host_steal_jiffies() -> int:
    """Steal jiffies (vCPU time withheld by the hypervisor) — noise
    from OUTSIDE the guest entirely, no process in this VM causes it."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0


def _tree_cpu_snapshot() -> dict[int, int]:
    """Per-pid CPU jiffies for THIS process tree: self + every live
    descendant (the Spark JVM and its python workers are descendants of
    the bench driver) via utime+stime, plus each node's cutime/cstime so
    already-reaped children keep counting. Live children are in their
    own utime until reaped, and roll into the parent's cutime only at
    reap time, so the two never double-count.

    PER-PID, not a single sum: diffing two aggregate sums subtracts a
    vanished pid's ENTIRE history (a worker-pool recycle, or one raced
    /proc read of the JVM) from the delta, driving it negative and
    inflating the foreign share to a phantom 100% — observed twice on
    sub-second queries in the first instrumented runs. The caller diffs
    pid-by-pid instead, so a vanished pid contributes its (unknowable)
    post-snapshot burn as 0 rather than minus-its-lifetime.

    own (utime+stime) and reaped-children (cutime+cstime) jiffies are
    kept SEPARATE, with the parent pid: a child alive at snapshot time
    but reaped before the window closes rolls its full lifetime into
    the parent's cutime, and the delta must subtract the part that was
    already visible at snapshot time (round-11 ADVICE — the opposite
    bias to the vanished-pid floor)."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue  # raced a process exit
        rest = s[s.rindex(")") + 2 :].split()  # comm may contain spaces
        ppid = int(rest[1])
        kids.setdefault(ppid, []).append(int(d))
        stats[int(d)] = (
            int(rest[11]) + int(rest[12]),  # own: utime+stime
            int(rest[13]) + int(rest[14]),  # reaped children: cutime+cstime
            ppid,
        )
    out: dict[int, tuple[int, int, int]] = {}
    stack, seen = [os.getpid()], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        if p in stats:
            out[p] = stats[p]
        stack.extend(kids.get(p, []))
    return out


def _tree_cpu_delta(
    tree0: dict[int, tuple[int, int, int]], tree1: dict[int, tuple[int, int, int]]
) -> int:
    """Jiffies the tree burned between two snapshots: per-pid own+cutime
    increments for surviving pids, full value for pids born in between,
    zero (the only safe floor) for pids that vanished — MINUS, per
    surviving parent, the snapshot-time burn of children it reaped
    inside the window (their lifetime rolls into the parent's cutime at
    reap; only the post-snapshot part is in-window burn). The
    correction floors at the parent's cutime increment, so a child
    orphaned OUT of the tree can never drive the delta negative."""
    reaped_at_t0: dict[int, int] = {}
    for p, (own0, cum0, pp0) in tree0.items():
        if p not in tree1:
            reaped_at_t0[pp0] = reaped_at_t0.get(pp0, 0) + own0 + cum0
    total = 0
    for p, (own1, cum1, _pp1) in tree1.items():
        own0, cum0, _ = tree0.get(p, (0, 0, 0))
        total += max(0, own1 - own0)
        total += max(0, max(0, cum1 - cum0) - reaped_at_t0.get(p, 0))
    return total


def foreign_cpu_fraction(
    t0: float, busy0: int, steal0: int, tree0: dict[int, tuple[int, int, int]]
) -> tuple[float, float]:
    """(foreign, steal) shares of the machine's CPU since the snapshot:
    foreign = everything consumed OUTSIDE this bench's process tree
    (including steal), steal = the hypervisor-withheld share alone.
    Both ~0.0 on a quiet host regardless of how hard the bench itself
    drives the CPUs (which is why raw loadavg can't adjudicate:
    local[32] pins loadavg at 32 by design). Self-adjudication for the
    round-10 contended-host class; the steal split tells the reader
    whether the noise was guest processes (fixable here) or host-tenant
    contention (not)."""
    elapsed = time.time() - t0
    if elapsed <= 0:
        return 0.0, 0.0
    foreign = max(
        0, (_host_busy_jiffies() - busy0) - _tree_cpu_delta(tree0, _tree_cpu_snapshot())
    )
    steal = max(0, _host_steal_jiffies() - steal0)
    capacity = elapsed * os.sysconf("SC_CLK_TCK") * (os.cpu_count() or 1)
    return min(1.0, foreign / capacity), min(1.0, steal / capacity)


def time_query(build, spark, sf_dir: str) -> tuple[float, float]:
    """(warm median, cold first run). The warm-up run IS the cold number:
    with the cache released before each query, run 0 pays plan compile +
    every persist materialization — the cost a fresh cluster session
    (the only kind a real job gets) pays once per job. Recording it
    closed a real blind spot: x_winnow_candidates benched 1.09 s warm
    while its cold first build was 93 s (the round-9 inferred-filter
    bug, PLANS.md) — a class per-session medians can never show."""
    times = []
    cold = 0.0
    for i in range(RUNS + 1):
        t0 = time.time()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        if i == 0:
            cold = dt
        else:
            times.append(dt)
    return statistics.median(times), cold


def main() -> int:
    names = sys.argv[1:]
    registry = load_all()
    todo = {
        n: s for n, s in registry.items() if (n in names if names else s.bench)
    }
    spark = get_spark("bench")
    results: dict[str, float] = {}
    colds: dict[str, float] = {}
    host_busy: dict[str, float] = {}
    host_steal: dict[str, float] = {}
    loadavg_start = round(os.getloadavg()[0], 2)
    for name, spec in sorted(todo.items()):
        snap = (time.time(), _host_busy_jiffies(), _host_steal_jiffies(), _tree_cpu_snapshot())
        try:
            med, cold = time_query(spec.build, spark, SF_DIR)
            results[name] = round(med, 3)
            colds[name] = round(cold, 3)
        except Exception as e:  # a broken query must not kill the whole bench
            print(f"# bench error {name}: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
            results[name] = -1.0
        host_busy[name], host_steal[name] = (
            round(v, 3) for v in foreign_cpu_fraction(*snap)
        )
        # Operators cache and checkpoint intermediate frames (shingle
        # sets, LSH signatures, loop states) reused *within* one
        # execution; releasing them between queries keeps each number
        # order-independent (runs of the SAME query still share the
        # persist inside time_query).
        release()
        print(f"# {name}: {results[name]}s", file=sys.stderr)
    # Flag pathological cold/warm ratios loudly: a first build >=10x its
    # warm median on a non-trivial query is the inferred-filter bug class
    # (plan-level double compute that the logical-plan cache then hides).
    for n in sorted(colds, key=lambda n: -(colds[n] / max(results.get(n, 0), 1e-9))):
        if results.get(n, 0) > 0.2 and colds[n] / results[n] >= 10:
            print(
                f"# COLD OUTLIER {n}: first build {colds[n]}s = "
                f"{colds[n] / results[n]:.0f}x its warm median",
                file=sys.stderr,
            )
    total = round(sum(v for v in results.values() if v >= 0), 3)
    sf = sf_from_dir(SF_DIR)
    errors = sorted(n for n, v in results.items() if v < 0)
    # Host-noise adjudication: the fraction of machine CPU burned by
    # processes OUTSIDE this bench while each query was being timed.
    # "quiet" = every window under HOST_NOISE_FRAC; "noisy" lists the
    # contaminated queries so a slow recording carries its own excuse
    # (or lack of one) — the round-10 r10 artifact needed a judge to
    # re-measure three knn queries by hand to reach this same verdict.
    noisy = sorted(n for n, f in host_busy.items() if f >= HOST_NOISE_FRAC)
    host_noise = "noisy" if noisy else "quiet"
    if noisy:
        print(
            f"# HOST NOISE: {len(noisy)} queries timed while foreign "
            f"load held >={HOST_NOISE_FRAC:.0%} of the machine "
            f"(foreign%, steal% — steal is hypervisor contention, not "
            f"guest processes): "
            + ", ".join(
                f"{n}({host_busy[n]:.0%},{host_steal.get(n, 0):.0%})" for n in noisy[:10]
            ),
            file=sys.stderr,
        )
    # Subset invocations (explicit query names) must not clobber the
    # full-run record the driver and judge read. The driver benches the
    # same tree at two core counts and both runs write BENCH_FULL.json,
    # so the second overwrites the first's per-query map (PERF_r13's
    # per_query and scaling tables came out empty); the per-CPUs copy,
    # written last and named by the final line, keeps both on disk.
    record_files = (
        ["BENCH_SUBSET.json"] if names else ["BENCH_FULL.json", f"BENCH_FULL_c{CPUS}.json"]
    )
    record = {
        "metric": "total_median_sec",
        "value": total,
        "unit": "sec",
        "queries": results,
        "cold_queries": colds,
        "host_busy": host_busy,
        "host_steal": host_steal,
        "host_noise": host_noise,
        "host_noisy_queries": noisy,
        "loadavg": [loadavg_start, round(os.getloadavg()[0], 2)],
        "sf": sf,
        "cpus": CPUS,
        "n_queries": len(results),
        "errors": errors,
    }
    for fn in record_files:
        with open(os.path.join(REPO_ROOT, fn), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    # Compact final line, guaranteed well under the driver's 2000-char
    # tail capture (round-2 parsed null, round-3 truncated): total,
    # counts, geomean vs the BASELINE.md §3 v1 ratchets, and only the
    # worst-3 ratio queries. The complete per-query map lives in the
    # record files above.
    sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
    geomean = None
    worst3: dict[str, float] = {}
    try:
        from benchcmp import load_baseline

        base = load_baseline()
        ratios = {
            n: results[n] / base[n]
            for n in results
            if results[n] >= 0 and base.get(n, 0) > 0
        }
        if ratios:
            geomean = round(
                statistics.geometric_mean(list(ratios.values())), 3
            )
            worst3 = {
                n: round(r, 2)
                for n, r in sorted(ratios.items(), key=lambda kv: -kv[1])[:3]
            }
    except Exception as e:  # baseline table absent/unparseable: still report times
        print(f"# baseline compare skipped: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "total_median_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "cpus": CPUS,
                "n_queries": len(results),
                "n_errors": len(errors),
                "geomean_vs_v1": geomean,
                "worst3_vs_v1": worst3,
                "host_noise": host_noise,
                "n_noisy": len(noisy),
                "max_foreign_cpu": max(host_busy.values(), default=0.0),
                "queries_file": record_files[-1],
            },
            separators=(",", ":"),
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
