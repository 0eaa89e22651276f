"""Fresh-JVM cold sweep: first-build timings with NOTHING shared.

bench.py's cold number (first build after release()) still shares one
JVM across all 272 queries — JIT-compiled codegen, broadcast relations,
the parquet footer cache, and Python worker pools are all warm by the
time most queries run. This tool spawns ONE FRESH PYTHON+JVM PROCESS
PER QUERY FAMILY (build-function module) and times each family query's
FIRST build there, after a tiny session warm-up job that pays JVM/
Arrow/Python-worker startup without touching the query's own plan. That
is the closest local stand-in for what a new cluster session pays.

    python tools/coldsweep.py                # sweep all families -> COLDSWEEP.json
    python tools/coldsweep.py --family music_database_spark.plans.windows
    python tools/coldsweep.py --report       # compare COLDSWEEP.json vs BENCH_FULL.json

The report flags any query whose fresh-session cold exceeds ALERT_RATIO x
its warm bench median at a non-trivial absolute cost — the round-9
winnow pathology class. Root-cause notes for flagged queries belong in
BASELINE.md §3.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, "COLDSWEEP.json")
ALERT_RATIO = 10.0
ALERT_MIN_SEC = 3.0
ALERT_MIN_WARM = 0.2
# Fresh-session one-time costs with documented causes (the registration
# class, BASELINE.md §3): real first-build work a warm re-run never
# repeats and that no plan fix can remove. Everything else must stay
# under ALERT_RATIO x warm.
ALERT_EXEMPT: dict[str, str] = {
    # ~7 s fresh-JVM: one-time Python DataSource registration + the
    # worker-side package-zip ship (PythonStreamingSourceRunner forks
    # its own interpreter); warm re-runs reuse the registered source.
    "x_python_datasource": "one-time Python datasource registration",
    # catalog/metastore first-touch — same exemption as benchcmp's gate
    "ddl_roundtrip": "catalog/metastore first-touch, not a data plan",
}


def family_names() -> dict[str, list[str]]:
    from music_database_spark.registry import load_all

    fams: dict[str, list[str]] = {}
    for n, spec in load_all().items():
        if spec.bench:  # same population the warm bench records
            fams.setdefault(spec.build.__module__, []).append(n)
    return fams


def run_family(module: str) -> None:
    """Child-process mode: fresh session, warm the JVM on a trivial job,
    then time each family query's FIRST (and only) build."""
    from music_database_spark.registry import load_all
    from music_database_spark.runtime import run
    from music_database_spark.session import get_spark

    reg = load_all()
    names = [n for n, s in reg.items() if s.bench and s.build.__module__ == module]
    spark = get_spark(f"coldsweep_{module.rsplit('.', 1)[-1]}")
    # Session warm-up: pays JVM JIT bring-up, Arrow init, one parquet
    # footer read and one Python-worker fork — none of it specific to
    # any query's plan, all of it noise we don't want attributed to the
    # first query in the family.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
    spark.createDataFrame([(1,)], "x int").toPandas()
    # ... plus ONE representative scan->expression->hash-agg->noop job
    # over a tiny table: the first such query in a fresh JVM pays ~2.5 s
    # of Janino/whole-stage-codegen bring-up shared by every query shape
    # (round-11: the window rotation reordered the registry and moved
    # that shared cost onto x_mixture_sample, tripping the 10x gate on a
    # 0.35 s-warm query; measured 3.65 s -> 1.78 s with this job first —
    # the residual is the query's own first page-reads, which is what
    # the sweep should attribute).
    from pyspark.sql import functions as F

    def warmup(spark, sf_dir):
        return (
            spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
            .select(F.md5(F.col("n_name")).alias("h"), "n_regionkey")
            .groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("m"))
        )

    run(spark, "coldsweep_warmup", warmup, SF_DIR, warm=0)
    out: dict[str, float] = {}
    for n in names:
        try:
            out[n] = round(run(spark, n, reg[n].build, SF_DIR, warm=0)["cold_s"], 3)
        except Exception as e:  # recorded, not fatal — the sweep must finish
            print(f"# ERROR {n}: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
            out[n] = -1.0
    print(json.dumps(out))


def sweep() -> int:
    fams = family_names()
    results: dict[str, float] = {}
    t_start = time.time()
    for i, module in enumerate(sorted(fams)):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--family", module],
            capture_output=True,
            text=True,
            cwd=REPO,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR},
        )
        line = (p.stdout.strip().splitlines() or [""])[-1]
        try:
            results.update(json.loads(line))
        except json.JSONDecodeError:
            print(f"# FAMILY FAILED {module}: {p.stderr[-500:]}", file=sys.stderr)
            continue
        print(
            f"# [{i + 1}/{len(fams)}] {module}: {len(fams[module])} queries, "
            f"{time.time() - t0:.0f}s (total {time.time() - t_start:.0f}s)",
            file=sys.stderr,
        )
    with open(OUT, "w") as f:
        json.dump(
            {"sf_dir": SF_DIR, "mode": "fresh-jvm-per-family", "queries": results},
            f,
            indent=1,
            sort_keys=True,
        )
    print(f"# wrote {OUT}: {len(results)} queries", file=sys.stderr)
    return report()


def report() -> int:
    cold = json.load(open(OUT))["queries"]
    warm = json.load(open(os.path.join(REPO, "BENCH_FULL.json")))["queries"]
    rows = sorted(
        ((cold[q] / warm[q], q) for q in cold if warm.get(q, 0) > ALERT_MIN_WARM and cold[q] > 0),
        reverse=True,
    )
    errors = sorted(q for q, v in cold.items() if v < 0)
    print(f"{'ratio':>7} {'query':<32} {'fresh_cold':>10} {'warm_med':>9}")
    for r, q in rows[:15]:
        print(f"{r:6.1f}x {q:<32} {cold[q]:>9.2f}s {warm[q]:>8.2f}s")
    flagged = [
        (q, r)
        for r, q in rows
        if r >= ALERT_RATIO and cold[q] >= ALERT_MIN_SEC and q not in ALERT_EXEMPT
    ]
    print(f"\nerrors ({len(errors)}): {', '.join(errors) or '-'}")
    print(
        f"flagged >= {ALERT_RATIO:.0f}x warm and >= {ALERT_MIN_SEC}s "
        f"({len(flagged)}): {', '.join(q for q, _ in flagged) or '-'}"
    )
    return 1 if flagged or errors else 0


def main() -> int:
    if "--family" in sys.argv:
        run_family(sys.argv[sys.argv.index("--family") + 1])
        return 0
    if "--report" in sys.argv:
        return report()
    return sweep()


if __name__ == "__main__":
    raise SystemExit(main())
