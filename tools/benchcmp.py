"""Compare a bench run against BASELINE.md §3's per-query table.

Usage: python tools/benchcmp.py [BENCH_FULL.json]

Prints geomean ratio, the worst/best movers, and queries missing a
baseline entry (new this round — add them to BASELINE.md §3 from a
quiet-machine run). The per-query self-ratchet is the operative bar
(BASELINE.md §2): each query within 2x of its first recorded number.

Cold-build gate (round 10, hard): a query whose cold first build is
>= COLD_GATE_RATIO x its warm median AND whose cold time exceeds
COLD_GATE_MIN_SEC fails the run (exit 1). This is the promoted form of
the round-9 stderr alert: the inferred-filter bug class (x_winnow_
candidates, 93 s cold / 1.09 s warm) is plan-level double compute that
only the first build pays, so warm medians structurally hide it.
Thresholds and exemptions are recorded in BASELINE.md §3.

The ratchet-budget gate (RATCHET_BUDGET_DOUBLINGS) and the cold-build
gate are both evaluated and every violation printed before the single
nonzero exit; anchored queries missing from BASELINE.md §3 are listed
on stderr.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Hard cold-build gate (BASELINE.md §3 "Cold-build gate"). A violation
# means the first build of the plan does work the warm path never
# repeats — the inferred-filter class — and must be root-caused, not
# shipped. Tiny queries are noise-guarded two ways: the warm median
# must be non-trivial (>= COLD_GATE_MIN_WARM_SEC) and the cold build
# itself must be expensive in absolute terms (>= COLD_GATE_MIN_SEC).
COLD_GATE_RATIO = 10.0
COLD_GATE_MIN_SEC = 3.0
COLD_GATE_MIN_WARM_SEC = 0.2
# Registration exemptions: queries whose cold build legitimately does
# one-time work a warm re-run never repeats. Each entry documents why.
COLD_GATE_EXEMPT: dict[str, str] = {
    # Catalog DDL round-trip: the cold run creates the spark-warehouse
    # directory tree and Derby metastore; r09 measured 10.7 s cold vs
    # 3.1 s warm — catalog-op noise, not a data-plan pathology.
    "ddl_roundtrip": "catalog/metastore first-touch, not a data plan",
    # One-time Python DataSource registration + worker package-zip ship
    # (PythonStreamingSourceRunner forks its own interpreter) lands on
    # this query's first build in each session — the same documented
    # cause as coldsweep.ALERT_EXEMPT's entry; the in-session ratio
    # hovers around the 10x bar with session order (r13 c8 record 6.6x,
    # r14 round-start 12.1x on an identical tree and a ~0.6 s warm).
    "x_python_datasource": "one-time Python datasource registration",
}

# Ratchet-relaxation budget (round 14, r12 ask #2): re-ratcheting a
# query's v1 entry in BASELINE.md §3 is sometimes the honest call after
# a host-drift adjudication, but unbounded re-ratchets would silently
# eat the baseline. RATCHET_ANCHOR.json freezes the §3 table as of r14;
# the CUMULATIVE relaxation against that snapshot — sum over queries of
# log2(current_v1 / anchor_v1) where current > anchor — may never
# exceed this many doublings in total. Tightening entries earns no
# credit back (the budget is a one-way meter), and a query missing from
# the anchor (added after r14) spends nothing until someone relaxes it
# against its own first record, which lands in the anchor at the next
# snapshot refresh (refreshing REQUIRES a paired budget-history note in
# BASELINE.md §3).
RATCHET_BUDGET_DOUBLINGS = 1.0


def load_anchor() -> dict[str, float]:
    path = os.path.join(REPO, "RATCHET_ANCHOR.json")
    if not os.path.exists(path):
        return {}
    return json.load(open(path))["queries"]


def ratchet_budget_spent(
    base: dict[str, float], anchor: dict[str, float]
) -> tuple[float, list[tuple[str, float]]]:
    """(total doublings spent, per-query relaxations) of the current
    baseline table vs the frozen anchor. Only relaxations (current >
    anchor) spend; tightenings are ignored rather than banked so a mass
    tightening can't fund a later mass relaxation."""
    spent = 0.0
    rows: list[tuple[str, float]] = []
    for q, v0 in anchor.items():
        v1 = base.get(q)
        if v1 is None or v0 <= 0 or v1 <= v0:
            continue
        d = math.log2(v1 / v0)
        spent += d
        rows.append((q, d))
    return spent, sorted(rows, key=lambda kv: -kv[1])


def load_baseline() -> dict[str, float]:
    base: dict[str, float] = {}
    for line in open(os.path.join(REPO, "BASELINE.md")):
        if not line.startswith("|"):
            continue
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        for name, sec in zip(cells[::2], cells[1::2]):
            if re.fullmatch(r"[A-Za-z_]\w*", name or "") and re.fullmatch(
                r"[0-9.]+", sec or ""
            ):
                base[name] = float(sec)
    return base


def cold_gate_violations(
    bench: dict[str, float], colds: dict[str, float]
) -> list[tuple[str, float]]:
    """(name, cold/warm ratio) rows that fail the hard cold-build gate.

    A cold-benched query with NO warm record at all is itself a gate
    failure (ratio inf): folding it into the tiny-warm noise guard would
    let a query silently dropped from the warm bench escape the gate
    entirely (round-10 advisor)."""
    out = []
    for q, cold in colds.items():
        if q in COLD_GATE_EXEMPT:
            continue
        if q not in bench:
            out.append((q, math.inf))
            continue
        warm = bench[q]
        if warm < COLD_GATE_MIN_WARM_SEC:
            continue
        if cold >= COLD_GATE_MIN_SEC and cold / warm >= COLD_GATE_RATIO:
            out.append((q, cold / warm))
    return sorted(out, key=lambda kv: -kv[1])


def main() -> int:
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "BENCH_FULL.json")
    data = json.load(open(path))
    bench: dict[str, float] = data["queries"]
    colds: dict[str, float] = data.get("cold_queries", {})
    base = load_baseline()
    ratios = {q: t / base[q] for q, t in bench.items() if base.get(q, 0) > 0 and t >= 0}
    new = sorted(q for q in bench if q not in base)
    g = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
    print(f"geomean ratio vs baseline: {g:.3f} over {len(ratios)} queries")
    if "host_noise" in data:
        busy = data.get("host_busy", {})
        steal = data.get("host_steal", {})
        print(
            f"host noise: {data['host_noise']} "
            f"(max foreign CPU {max(busy.values(), default=0.0):.1%}, "
            f"max hypervisor steal {max(steal.values(), default=0.0):.1%}, "
            f"{len(data.get('host_noisy_queries', []))} contaminated windows, "
            f"loadavg {data.get('loadavg')})"
        )
    print(f"no baseline entry ({len(new)}): {', '.join(new) or '-'}")
    over = [(q, r) for q, r in ratios.items() if r > 2.0]
    print(f"over the 2x ratchet: {len(over)}")

    def noise_tag(q: str) -> str:
        """Annotate a slow reading with its own window's measured noise
        so an over-ratchet line carries its excuse (or lack of one)."""
        b = data.get("host_busy", {}).get(q, 0.0)
        s = data.get("host_steal", {}).get(q, 0.0)
        return f"  [window: foreign {b:.0%}, steal {s:.0%}]" if max(b, s) >= 0.05 else ""

    for q, r in sorted(ratios.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {r:5.2f}x  {q:32s} {base[q]:6.2f} -> {bench[q]:6.2f}s{noise_tag(q)}")
    print("biggest improvements:")
    for q, r in sorted(ratios.items(), key=lambda kv: kv[1])[:5]:
        print(f"  {r:5.2f}x  {q:32s} {base[q]:6.2f} -> {bench[q]:6.2f}s")
    # Cold first-build vs warm median (recorded since round 9): a big
    # ratio on a non-trivial query is the inferred-filter bug class —
    # plan-level double compute hidden by the logical-plan cache.
    cold_ratios = {
        q: colds[q] / bench[q]
        for q in colds
        if bench.get(q, 0) > COLD_GATE_MIN_WARM_SEC
    }
    notable = {q: r for q, r in cold_ratios.items() if r >= 3}
    print(f"cold first-build >=3x warm median ({len(notable)}):")
    for q, r in sorted(notable.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {r:5.1f}x  {q:32s} cold {colds[q]:6.2f}s vs warm {bench[q]:6.2f}s")
    failed = False
    anchor = load_anchor()
    if anchor:
        spent, relaxed = ratchet_budget_spent(base, anchor)
        print(
            f"ratchet budget: {spent:.3f} of {RATCHET_BUDGET_DOUBLINGS} "
            f"doublings spent across {len(relaxed)} relaxed entries"
        )
        for q, d in relaxed[:5]:
            print(f"  +{d:.3f}  {q}: anchor {anchor[q]} -> baseline {base.get(q)}")
        # a deleted or renamed §3 entry would escape the budget silently
        missing = sorted(set(anchor) - set(base))
        if missing:
            print(
                f"ANCHORED QUERIES MISSING FROM BASELINE.md §3 ({len(missing)}), "
                f"their relaxation is not charged to the budget: "
                f"{', '.join(missing)}",
                file=sys.stderr,
            )
        if spent > RATCHET_BUDGET_DOUBLINGS:
            print(
                f"RATCHET BUDGET EXCEEDED: {spent:.3f} > "
                f"{RATCHET_BUDGET_DOUBLINGS} doublings of cumulative "
                f"baseline relaxation vs RATCHET_ANCHOR.json — the v1 "
                f"baseline is being eaten; revert a re-ratchet or make "
                f"the queries faster",
                file=sys.stderr,
            )
            failed = True
    # both gates are evaluated and reported before the one nonzero exit
    violations = cold_gate_violations(bench, colds)
    for q, r in violations:
        print(
            f"COLD GATE FAIL {q}: cold {colds[q]:.2f}s = {r:.0f}x warm "
            f"{bench[q]:.2f}s (bar: >={COLD_GATE_RATIO:.0f}x and "
            f">={COLD_GATE_MIN_SEC}s; exempt list in benchcmp.py)",
            file=sys.stderr,
        )
    if not violations:
        print("cold-build gate: pass")
    return 1 if failed or violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
