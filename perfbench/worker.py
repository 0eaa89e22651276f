"""One run of one workload in a fresh Python process (started by run.py).

Phases, in order:

1. set-up: process start until ``session.get_spark()`` is ready and
   ``registry.load_all()`` has returned (``setup_s``);
2. one cold pass over the workload's queries (``first_pass_s``);
3. WARMUP_PASSES untimed warm-up passes (JIT warm-up lasts several
   passes); the first of them collects every result and compares it with
   the query's DuckDB oracle through tools/diffcheck.py;
4. timed passes until ``--seconds`` have elapsed (``pass_s``,
   per-query latencies, host noise over the window);
5. with ``--trace 1`` only: traced passes that split each query into
   build / Catalyst planning / execution / sink / cache clean-up and read
   per-stage metrics from Spark's status store and planning phases from
   the sink action's own QueryExecution.

The query order of every pass is drawn from ``--seed``. The last stdout
line is one JSON object that run.py reads.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Untimed warm-up passes, the check pass included. A fixed count, not an
# "until two passes agree" rule: pass times are still falling (JIT warm-up)
# when timing starts, and a rule that stops on a chance agreement left runs
# at different points of the warm-up curve, their pass times 15% apart.
WARMUP_PASSES = 5
MIN_TRACED_PASSES = 2
# Task slots: local[2] on a 4-core host leaves cores to the JIT compiler,
# GC and the Python driver. At the benchmark's scale the queries are
# fixed-cost bound, so more slots would add little.
SLOTS = 2
# Traced runs keep every job and stage record: at the default retention
# (1000) the status store evicts the current query's stages once a
# session has run about 1000 stages, silently undercounting executor time.
TRACE_CONF = {"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"}
MB = 1024.0 * 1024.0


def process_start_time() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    """The Spark session, the workload's queries and the run's tallies."""

    def __init__(self, spark, registry, workload, sf_dir: str, seed: int):
        from music_database_spark.operators.ranking import release_rank_caches

        self.spark = spark
        self.specs = {n: registry[n] for n in workload.queries}
        self.workload = workload
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.release_rank_caches = release_rank_caches
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def order(self) -> list[str]:
        return self.rng.sample(list(self.specs), len(self.specs))

    def sink(self, df, sink: str):
        if sink == "collect":
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def cleanup(self) -> None:
        # bench.py's per-query hygiene: drop cached plans and the rank
        # family's persist registry so each query starts from the same state.
        self.spark.catalog.clearCache()
        self.release_rank_caches()

    def fail(self, name: str, err: Exception) -> None:
        self.failed += 1
        msg = f"{name}: {type(err).__name__}: {str(err)[:300]}"
        self.errors.append(msg)
        print(f"# perfbench error {msg}", file=sys.stderr)

    def run_pass(self, sink: str | None = None) -> tuple[float, dict[str, float], dict]:
        """One pass over the queries in seeded order. Returns the pass wall
        time, each query's latency (build + execute + sink) and, for the
        collect sink, each query's result frame."""
        sink = sink or self.workload.sink
        latency: dict[str, float] = {}
        results: dict = {}
        t_pass = time.perf_counter()
        for name in self.order():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                out = self.sink(self.specs[name].build(self.spark, self.sf_dir), sink)
            except Exception as e:  # a failing query is counted, the run goes on
                self.fail(name, e)
            else:
                latency[name] = time.perf_counter() - t0
                if out is not None:
                    results[name] = out
            self.cleanup()
        return time.perf_counter() - t_pass, latency, results

    def check(self, results: dict) -> None:
        """Compare each collected result with its DuckDB oracle, using
        tools/diffcheck.py's connection and normalisation."""
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import diffcheck

        con = diffcheck.duck_con(self.sf_dir)
        try:
            for name, sdf in results.items():
                oracle = self.specs[name].oracle
                try:
                    risky = diffcheck.audit_oracle_types(con, name, oracle)
                    odf = con.execute(oracle).fetchdf()
                except Exception as e:
                    self.fail(name, e)
                    continue
                ns, no = diffcheck.normalize(sdf), diffcheck.normalize(odf)
                if risky or list(ns.columns) != list(no.columns) or not ns.equals(no):
                    self.fail(name, ValueError(
                        f"output differs from its oracle ({len(ns)} vs {len(no)} rows"
                        f"{', risky oracle types ' + str(risky) if risky else ''})"
                    ))
        finally:
            con.close()


class StageReader:
    """Job and stage metrics from Spark's status store, keyed by job-id
    ranges: job ids are sequential per SparkContext and this loop runs one
    query at a time, so the jobs started between two reads of the job
    counter belong to the phase in between."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.tracker = self.sc.statusTracker()
        self.listed_stages = 0
        self.read_stages = 0

    def next_job(self) -> int:
        return self.jsc.dagScheduler().numTotalJobs()

    def drain(self) -> None:
        """Wait until the listener has recorded every finished job."""
        self.jsc.listenerBus().waitUntilEmpty()

    def stats(self, first_job: int, end_job: int) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        s = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "last_end_s"),
            0.0,
        )
        for jid in range(first_job, end_job):
            s["jobs"] += 1
            info = self.tracker.getJobInfo(jid)
            if info is None:  # the job's record itself is gone
                self.listed_stages += 1
                continue
            done = self.store.job(jid).completionTime()
            if done.isDefined():
                s["last_end_s"] = max(s["last_end_s"], done.get().getTime() / 1000.0)
            for sid in info.stageIds:
                self.listed_stages += 1
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # NoSuchElementException: record evicted
                    continue
                self.read_stages += 1
                if sd.status().toString() == "SKIPPED":
                    continue
                s["stages"] += 1
                s["tasks"] += sd.numTasks()
                s["executor_run_s"] += sd.executorRunTime() / 1e3
                s["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                s["gc_s"] += sd.jvmGcTime() / 1e3
                s["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                s["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                s["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return s

    @property
    def lost(self) -> int:
        return self.listed_stages - self.read_stages


class PlanningListener:
    """A QueryExecutionListener (called from the JVM through py4j's
    callback server) that keeps the QueryExecution of every finished SQL
    action. Its planning tracker times the optimisation and physical
    planning that the action really ran: a noop write wraps the Dataset's
    plan in a new command and plans it again, so planning forced on the
    Dataset's own QueryExecution would time work the sink throws away."""

    PHASES = ("optimization", "planning")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.executions: list = []
        spark._jsparkSession.listenerManager().register(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.executions.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java interface)
        self.executions.append(qe)

    def take_spans(self) -> list[tuple[float, float]]:
        """The (start, end) wall times of every optimisation and planning
        phase of the actions recorded so far; forgets those actions."""
        spans = []
        for qe in self.executions:
            phases = qe.tracker().phases()
            for name in self.PHASES:
                phase = phases.get(name)
                if phase.isDefined():
                    spans.append((phase.get().startTimeMs() / 1e3, phase.get().endTimeMs() / 1e3))
        self.executions.clear()
        return spans


def planning_within(spans: list[tuple[float, float]], since: float,
                    until: float) -> tuple[float, float]:
    """Planning seconds that ended between ``since`` and ``until`` (1 ms
    slack: the tracker's clock counts whole milliseconds), and when the
    last of it ended (``since`` if none did)."""
    plan_s, plan_end = 0.0, since
    for start, end in spans:
        if since - 0.001 <= end <= until + 0.001:
            plan_s += end - max(start, since)
            plan_end = max(plan_end, end)
    return plan_s, plan_end


def persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def traced_pass(bench: Bench, reader: StageReader,
                 listener: PlanningListener) -> tuple[float, dict[str, dict]]:
    """One pass with every query split into layers. Returns the pass wall
    time and per-query layer figures."""
    spark, sink = bench.spark, bench.workload.sink
    raw = []
    t_pass = time.perf_counter()
    for name in bench.order():
        bench.attempted += 1
        before = persisted_rdd_ids(spark)
        j0, w0 = reader.next_job(), time.time()
        try:
            df = bench.specs[name].build(spark, bench.sf_dir)
            j1, w1 = reader.next_job(), time.time()
            bench.sink(df, sink)
            j2, w2 = reader.next_job(), time.time()
        except Exception as e:
            bench.fail(name, e)
            bench.cleanup()
            continue
        persisted = len(persisted_rdd_ids(spark) - before)
        bench.cleanup()
        w3 = time.time()
        raw.append((name, j0, j1, j2, w0, w1, w2, w3, persisted))
    wall = time.perf_counter() - t_pass
    reader.drain()  # the listener bus has delivered every job and action
    spans = listener.take_spans()
    per_query: dict[str, dict] = {}
    for name, j0, j1, j2, w0, w1, w2, w3, persisted in raw:
        b, x = reader.stats(j0, j1), reader.stats(j1, j2)
        # Inside the sink: Catalyst planning, then execution until the last
        # job ended; the sink is what remains (driver-side set-up before
        # planning and the collect or commit tail after the last job).
        plan_s, plan_end = planning_within(spans, w1, w2)
        run_s = max(w2 - w1 - plan_s, 0.0)
        exec_s = min(max(x["last_end_s"] - plan_end, 0.0), run_s) if x["jobs"] else run_s
        q = {
            "build.s": w1 - w0,
            "catalyst.plan_s": plan_s,
            "exec.s": exec_s,
            "sink.s": run_s - exec_s,
            "cache.persisted_rdds": persisted,
            "cache.cleanup_s": w3 - w2,
        }
        for k in ("jobs", "stages", "tasks", "executor_run_s"):
            q[f"build.{k}"] = b[k]
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            q[f"exec.{k}"] = x[k]
        per_query[name] = q
    return wall, per_query


def load_table_probe(bench: Bench, reader: StageReader, calls: int = 3) -> tuple[float, float]:
    """Median wall time and mean job count of one warm
    ``loader.load_table`` call, over every driver table."""
    from music_database_spark.sources.loader import DRIVER_TABLES, load_table

    times, jobs = [], 0
    for _ in range(calls):
        for t in DRIVER_TABLES:
            j0, t0 = reader.next_job(), time.perf_counter()
            load_table(bench.spark, bench.sf_dir, t)
            times.append(time.perf_counter() - t0)
            jobs += reader.next_job() - j0
    return median(times), jobs / len(times)


def trace_window(bench: Bench, reader: StageReader, seconds: float, slots: int,
                 out_path: str) -> dict[str, float]:
    """Untraced and traced passes, alternating, for ``seconds`` (at least
    MIN_TRACED_PASSES of each); returns the per-pass layer figures (median
    over traced passes) and writes the per-query breakdown to ``out_path``.
    Alternating keeps the warm-up still under way out of the overhead."""
    untraced: list[float] = []
    passes: list[tuple[float, dict[str, dict]]] = []
    listener = PlanningListener(bench.spark)
    t_end = time.perf_counter() + seconds
    while len(passes) < MIN_TRACED_PASSES or time.perf_counter() < t_end:
        untraced.append(bench.run_pass()[0])
        passes.append(traced_pass(bench, reader, listener))
    totals = []
    for wall, per_query in passes:
        tot: dict[str, float] = {}
        for q in per_query.values():
            for k, v in q.items():
                tot[k] = tot.get(k, 0.0) + v
        busy_s = tot.get("build.executor_run_s", 0.0) + tot.get("exec.executor_run_s", 0.0)
        tot["pass_s"] = wall
        tot["orchestration_s"] = wall - busy_s / slots
        tot["exec.slot_busy_frac"] = busy_s / (wall * slots)
        totals.append(tot)
    keys = sorted({k for t in totals for k in t})
    layer = {k: median([t.get(k, 0.0) for t in totals]) for k in keys}
    for k in ("build.jobs", "build.stages", "exec.jobs", "exec.stages"):
        vals = [t.get(k, 0.0) for t in totals]
        layer[f"{k}_spread"] = max(vals) - min(vals)
    layer["trace.overhead_s"] = layer.pop("pass_s") - median(untraced)
    samples: dict[str, dict[str, list[float]]] = {}
    for _, per_query in passes:
        for n, q in per_query.items():
            for k, v in q.items():
                samples.setdefault(n, {}).setdefault(k, []).append(v)
    breakdown = {
        n: {k: {"median": median(v), "min": min(v), "max": max(v)} for k, v in q.items()}
        for n, q in samples.items()
    }
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump({"traced_passes": len(passes), "per_pass": layer, "per_query": breakdown},
                  f, indent=1, sort_keys=True)
    return layer


def peak_rss_mb(tree_pids) -> float:
    """Sum of VmHWM over the given processes (driver, JVM, Python workers)."""
    total_kb = 0
    for pid in tree_pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue  # the process ended since the tree was listed
    return total_kb / 1024.0


def main() -> int:
    started = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from music_database_spark import registry, session

    slots = min(SLOTS, os.cpu_count() or 1)
    t0 = time.time()
    spark = session.get_spark(
        "perfbench", cpus=str(slots), extra_conf=TRACE_CONF if args.trace else None
    )
    t1 = time.time()
    specs = registry.load_all()
    t2 = time.time()
    result = {"setup_s": t2 - started, "session.get_spark_s": t1 - t0,
              "registry.load_all_s": t2 - t1}
    try:
        result.update(run_workload(spark, specs, args, slots))
    finally:
        spark.stop()
    print(json.dumps(result))
    return 0


def run_workload(spark, specs, args, slots: int) -> dict:
    import bench as bench_py  # repo-root bench.py: host-noise helpers
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    bench = Bench(spark, specs, workload, args.data, args.seed)
    out: dict = {"seed": args.seed}

    out["first_pass_s"] = bench.run_pass()[0]
    check_s, _, results = bench.run_pass(sink="collect")
    bench.check(results)
    del results

    # The check pass is also the first warm-up pass. For a noop-sink
    # workload it differs only by collecting the (small) results.
    warm = [check_s] + [bench.run_pass()[0] for _ in range(WARMUP_PASSES - 1)]
    out["warmup_passes_s"] = warm

    snap = (time.time(), bench_py._host_busy_jiffies(), bench_py._host_steal_jiffies(),
            bench_py._tree_cpu_snapshot())
    passes: list[float] = []
    latencies: dict[str, list[float]] = {n: [] for n in workload.queries}
    t_end = time.perf_counter() + args.seconds
    while not passes or time.perf_counter() < t_end:
        wall, lat, _ = bench.run_pass()
        passes.append(wall)
        for name, seconds in lat.items():
            latencies[name].append(seconds)
    foreign, steal = bench_py.foreign_cpu_fraction(*snap)
    pooled = [x for xs in latencies.values() for x in xs]
    out.update(
        pass_s=median(passes),
        timed_passes_s=passes,
        # The typical query's latency: the median over queries of each
        # query's median. A median of the pooled samples would sit between
        # two queries' latencies whenever the query count is even.
        latency_p50_s=median([median(xs) for xs in latencies.values() if xs]),
        latency_samples=len(pooled),
        host_foreign_cpu_frac=foreign,
        host_steal_frac=steal,
    )
    if len(pooled) >= 100:
        out["latency_p90_s"] = statistics.quantiles(pooled, n=10)[-1]

    if args.trace:
        reader = StageReader(spark)
        layer = trace_window(bench, reader, args.seconds, slots, args.trace_out)
        layer["sources.load_table_s"], layer["sources.load_table_jobs"] = load_table_probe(bench, reader)
        layer["trace.lost_stage_records"] = reader.lost
        layer["host.foreign_cpu_frac"], layer["host.steal_frac"] = foreign, steal
        out["layers"] = layer
    out["peak_rss_mb"] = peak_rss_mb(bench_py._tree_cpu_snapshot())
    out.update(attempted=bench.attempted, failed=bench.failed, errors=bench.errors)
    return out


if __name__ == "__main__":
    raise SystemExit(main())
