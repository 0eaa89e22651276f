"""The repository's benchmark: one closed-loop workload run, one result line.

    python3 perfbench/run.py --workload ref_interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It writes the driver tables for the
benchmark's scale under perfbench/.data (once per checkout), runs the
workload in a fresh Python process driving one local Spark session
(worker.py describes the phases).

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are BENCHMARK.json's end-to-end metrics; with ``--trace 1`` its
per-layer metrics, and the per-query breakdown goes to
perfbench/.out/trace_<workload>_<seed>.json. The line before it holds the
run's details: seed, every pass time, latency sample count, failure share,
peak RSS and the host's foreign-CPU and steal share over the timed window.
Peak RSS is a per-layer metric, not an end-to-end one: its run-to-run
spread (about 20%, from the JVM's adaptive heap sizing) is too wide to
gate a change on.

A failed query or an output that differs from its DuckDB oracle makes the
run incorrect. The run exits non-zero without a result line when the
program is missing, a process times out, or the trace lost stage records.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import DATA_SEED, SF, WORKLOADS  # noqa: E402

PROGRAM_FILES = ("music_database_spark/registry.py", "tools/diffcheck.py", "bench.py")
DEADLINE_S = 170.0  # the whole run must end within 180 s


def group_running(pgid: int) -> bool:
    """Whether any process of the group is still running. Zombies count
    as ended: the container's init may reap orphans only after a delay."""
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited since the listing
        state, _ppid, pgrp = stat[stat.rindex(")") + 2 :].split()[:3]
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def stop_group(pgid: int, grace_s: float) -> None:
    """Give the process group ``grace_s`` to exit on its own (the JVM
    exits once its Python parent is gone), then kill what is left and wait
    until nothing in the group runs."""
    for kill, wait_s in ((False, grace_s), (True, 10.0)):
        if kill:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
        until = time.time() + wait_s
        while group_running(pgid):
            if time.time() >= until:
                break
            time.sleep(0.05)
        else:
            return


def run_worker(argv: list[str], deadline: float) -> dict:
    """Run worker.py in its own process group; return its result line.
    On timeout the whole group (the worker's JVM and Python workers too)
    is killed and waited for."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *argv],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        stdout, _ = proc.communicate(timeout=max(deadline - time.time(), 1.0))
    except subprocess.TimeoutExpired:
        stop_group(proc.pid, grace_s=0.0)
        proc.communicate()
        raise SystemExit(f"perfbench: worker timed out: {' '.join(argv)}")
    stop_group(proc.pid, grace_s=5.0)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: worker failed (exit {proc.returncode}): {' '.join(argv)}")
    return json.loads(lines[-1])


def main() -> int:
    deadline = time.time() + DEADLINE_S
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    import datagen

    data = datagen.ensure(os.path.join(HERE, ".data", f"sf{SF}_seed{DATA_SEED}"), SF, DATA_SEED)
    trace_out = os.path.join(HERE, ".out", f"trace_{args.workload}_{args.seed}.json")
    run = run_worker(
        ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(args.trace), "--data", data, "--trace-out", trace_out],
        deadline,
    )
    run["fail_frac"] = run["failed"] / run["attempted"]

    if args.trace:
        layers = run.pop("layers")
        layers["session.get_spark_s"] = run["session.get_spark_s"]
        layers["registry.load_all_s"] = run["registry.load_all_s"]
        layers["peak_rss_mb"] = run["peak_rss_mb"]
        if layers["trace.lost_stage_records"]:
            print(f"perfbench: {layers['trace.lost_stage_records']} stage records lost "
                  "from the status store", file=sys.stderr)
            return 1
        values, section = layers, "per_layer"
    else:
        values, section = run, "end_to_end"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)[section]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"workload": args.workload, **run}, sort_keys=True))
    print(json.dumps({
        "correct": run["failed"] == 0,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
