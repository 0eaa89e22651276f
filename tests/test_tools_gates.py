"""Gates and keying conventions in the tools layer (round 10).

Two permanent lessons pinned here:
* the cold-build benchcmp gate — the round-9 inferred-filter find proved
  a plan can be 90x slower on its FIRST build than its warm median, so
  the cold/warm check must fail the run, not just print;
* the content-tag derived-cache convention — round-8/9 advisor findings
  showed .tmp caches keyed by path/basename serve stale artifacts after
  the source regenerates; every derived cache now keys on
  loader.source_content_tag.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


# --- cold-build gate ------------------------------------------------------


def test_cold_gate_flags_pathological_first_build():
    from benchcmp import COLD_GATE_RATIO, cold_gate_violations

    bench = {"x_winnow_candidates": 1.09}
    colds = {"x_winnow_candidates": 93.0}  # the round-9 pathology, verbatim
    out = cold_gate_violations(bench, colds)
    assert [q for q, _ in out] == ["x_winnow_candidates"]
    assert out[0][1] >= COLD_GATE_RATIO


def test_cold_gate_noise_guards_and_exemptions():
    from benchcmp import COLD_GATE_EXEMPT, cold_gate_violations

    # sub-threshold warm median: 0.05 s warm, 1 s cold is 20x but noise
    assert cold_gate_violations({"tiny": 0.05}, {"tiny": 1.0}) == []
    # cheap cold build: 12x ratio but under the absolute-seconds floor
    assert cold_gate_violations({"cheap": 0.21}, {"cheap": 2.5}) == []
    # a documented exemption never fails the gate
    (exempt,) = [q for q in COLD_GATE_EXEMPT if q == "ddl_roundtrip"]
    assert cold_gate_violations({exempt: 0.5}, {exempt: 50.0}) == []
    # same shape without the exemption DOES fail
    assert cold_gate_violations({"other": 0.5}, {"other": 50.0}) == [("other", 100.0)]


def test_cold_gate_flags_cold_only_names():
    """A cold-benched query MISSING from the warm record is a gate
    failure (ratio inf), not noise — folding it into the tiny-warm guard
    would let a query dropped from the warm bench escape the gate
    silently (round-10 advisor)."""
    import math

    from benchcmp import cold_gate_violations

    out = cold_gate_violations({}, {"dropped_from_warm": 4.0})
    assert out == [("dropped_from_warm", math.inf)]
    # an exempt query stays exempt even when cold-only
    from benchcmp import COLD_GATE_EXEMPT

    (exempt,) = [q for q in COLD_GATE_EXEMPT if q == "ddl_roundtrip"]
    assert cold_gate_violations({}, {exempt: 4.0}) == []


# --- ratchet-relaxation budget (round 14) ---------------------------------


def test_ratchet_budget_math_and_one_way_meter():
    """The budget charges log2(current/anchor) per RELAXED entry and
    banks nothing for tightened ones — a mass tightening must not fund
    a later mass relaxation (r12 ask #2 / r13 verdict ask #8)."""
    from benchcmp import ratchet_budget_spent

    anchor = {"a": 1.0, "b": 2.0, "c": 4.0, "gone": 1.0}
    base = {"a": 2.0, "b": 1.0, "c": 4.0, "new_query": 9.9}
    spent, rows = ratchet_budget_spent(base, anchor)
    # only 'a' relaxed (1.0 -> 2.0 = exactly one doubling); 'b' tightened
    # (no credit), 'c' unchanged, 'gone' missing from baseline (no charge),
    # 'new_query' not anchored yet (no charge)
    assert rows == [("a", 1.0)]
    assert spent == pytest.approx(1.0)


def test_ratchet_budget_of_shipped_tables_is_within_bounds():
    """The shipped BASELINE.md §3 table vs the shipped anchor must stay
    under RATCHET_BUDGET_DOUBLINGS — if this fails, cumulative
    re-ratchets have eaten more than the allowed baseline mass and one
    of them must be reverted (or the queries made faster)."""
    from benchcmp import (
        RATCHET_BUDGET_DOUBLINGS,
        load_anchor,
        load_baseline,
        ratchet_budget_spent,
    )

    anchor = load_anchor()
    if not anchor:
        pytest.skip("no RATCHET_ANCHOR.json in this checkout")
    spent, _rows = ratchet_budget_spent(load_baseline(), anchor)
    assert spent <= RATCHET_BUDGET_DOUBLINGS
    # anchor coverage must not silently shrink: every anchored query
    # still in the baseline keeps its anchor protection
    assert len(anchor) >= 250
    # ...and no anchored query may drop out of the baseline table, where
    # its relaxation would no longer be charged to the budget
    assert sorted(set(anchor) - set(load_baseline())) == []


def test_foreign_cpu_fraction_separates_own_load_from_foreign():
    """bench.py's host-noise adjudicator must attribute THIS tree's CPU
    burn to the bench (foreign ~ 0) and an out-of-tree spinner to the
    host (foreign >> 0) — loadavg can't make that distinction, which is
    why the round-10 recording needed a judge to re-measure by hand.

    Round-12 de-flake (round-11 ADVICE): skip on small or already-busy
    hosts (the capacity-share margins assume >=16 cpus and a mostly
    quiet machine), widened margins, and the orphaned spinner process
    group is killed in a finally block so a mid-test assertion can't
    leak CPU burn into subsequent tests."""
    import signal
    import time

    sys.path.insert(0, REPO)
    import bench

    if (os.cpu_count() or 1) < 16:
        pytest.skip("capacity-share margins sized for >=16 cpus")

    def window(work) -> float:
        snap = (
            time.time(),
            bench._host_busy_jiffies(),
            bench._host_steal_jiffies(),
            bench._tree_cpu_snapshot(),
        )
        work()
        return bench.foreign_cpu_fraction(*snap)[0]

    # Difference-based against an idle control window, so the test holds
    # even when something ELSE on the host is genuinely busy (first cut
    # asserted an absolute bound and flaked against a concurrent Spark
    # job — which the adjudicator CORRECTLY reported as foreign).
    baseline = window(lambda: time.sleep(0.4))
    if baseline > 0.30:
        pytest.skip(f"host already {baseline:.0%} foreign-busy — margins unreliable")

    def spin():
        end = time.time() + 0.4
        while time.time() < end:
            pass

    own = window(spin)
    assert own - baseline < 0.12, (
        f"own busy-loop misattributed as foreign ({own:.2%} vs idle {baseline:.2%})"
    )

    # an out-of-tree spinner (double-fork reparents it to init) MUST
    spin_src = (
        "import os,time\n"
        "pids=[os.fork() for _ in range(8)]\n"
        "if 0 in pids:\n"
        "    e=time.time()+0.6\n"
        "    while time.time()<e: pass\n"
        "    os._exit(0)\n"
        "for p in pids: os.waitpid(p,0)\n"
    )
    pgid = None
    try:
        pid = os.fork()
        if pid == 0:  # intermediate child: exec the spinner's parent, orphaned
            os.setsid()
            if os.fork() == 0:
                os.execv(sys.executable, [sys.executable, "-c", spin_src])
            os._exit(0)
        os.waitpid(pid, 0)
        # setsid made the intermediate the session/pgroup leader; the
        # orphaned spinner inherited that pgid
        pgid = pid
        foreign = window(lambda: time.sleep(0.8))
        # 8 foreign cores for 0.6 s inside an 0.8 s window on a 32-cpu
        # box is ~19% of capacity; demand at least ~a fifth of that
        # ABOVE the idle baseline.
        assert foreign - baseline > 0.04, (
            f"foreign spinners invisible to adjudicator "
            f"({foreign:.2%} vs idle {baseline:.2%})"
        )
    finally:
        if pgid is not None:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass  # spinners already exited on their own


def test_cold_gate_passes_current_bench_record():
    """The shipped BENCH_FULL.json must satisfy the gate — if this fails,
    a cold pathology landed in the benched tree and needs a root cause,
    not a threshold bump."""
    import json

    from benchcmp import cold_gate_violations

    path = os.path.join(REPO, "BENCH_FULL.json")
    if not os.path.exists(path):
        pytest.skip("no BENCH_FULL.json in this checkout")
    data = json.load(open(path))
    assert cold_gate_violations(data["queries"], data.get("cold_queries", {})) == []


def test_bench_record_carries_host_noise_fields():
    """The shipped BENCH_FULL.json must carry the round-11 host-noise
    self-adjudication schema (per-query foreign share, steal split,
    verdict, loadavg) — the fields exist so a slow recording documents
    its own contamination; dropping them re-opens the round-10
    judge-has-to-re-measure class."""
    import json

    path = os.path.join(REPO, "BENCH_FULL.json")
    if not os.path.exists(path):
        pytest.skip("no BENCH_FULL.json in this checkout")
    data = json.load(open(path))
    for field in ("host_busy", "host_steal", "host_noise", "host_noisy_queries", "loadavg"):
        assert field in data, f"BENCH_FULL.json lost the {field} field"
    assert data["host_noise"] in ("quiet", "noisy")
    assert set(data["host_busy"]) == set(data["queries"])
    assert all(0.0 <= v <= 1.0 for v in data["host_busy"].values())
    assert all(0.0 <= v <= 1.0 for v in data["host_steal"].values())


# --- content-tag derived-cache convention ---------------------------------


def test_source_content_tag_changes_when_data_changes(tmp_path):
    from music_database_spark.sources.loader import source_content_tag

    sf = tmp_path / "sfX"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"generation-one")
    t1 = source_content_tag(str(sf), ["documents"])
    assert len(t1) == 12
    # same stats -> same tag (stable across calls)
    assert source_content_tag(str(sf), ["documents"]) == t1
    # regenerated drop at the SAME path -> different tag
    (sf / "documents.parquet").write_bytes(b"generation-two!")
    t2 = source_content_tag(str(sf), ["documents"])
    assert t2 != t1
    # directory-shaped parquet is fingerprinted file-by-file
    (sf / "events.parquet").mkdir()
    (sf / "events.parquet" / "part-0.parquet").write_bytes(b"aa")
    t3 = source_content_tag(str(sf), ["events"])
    (sf / "events.parquet" / "part-1.parquet").write_bytes(b"bb")
    assert source_content_tag(str(sf), ["events"]) != t3


def test_derived_cache_path_sweeps_superseded_generations(tmp_path, monkeypatch):
    import music_database_spark.sources.loader as loader

    # point the repo-root resolution at a sandbox .tmp
    real = loader.derived_cache_path

    def sandboxed(kind, prefix, tag):
        path = real(kind, prefix, tag)
        return path

    monkeypatch.setattr(
        loader.os.path, "abspath", lambda p: str(tmp_path / "pkg" / "sources" / "loader.py")
    )
    old = sandboxed("k", "docs_sfX", "aaaa")
    os.makedirs(old, exist_ok=True)
    assert os.path.isdir(old)
    new = sandboxed("k", "docs_sfX", "bbbb")
    # the stale generation is gone, the new path is returned (not created)
    assert not os.path.exists(old)
    assert new.endswith("docs_sfX_bbbb")
    # a DIFFERENT prefix in the same kind is untouched
    other = sandboxed("k", "docs_sfY", "cccc")
    os.makedirs(other, exist_ok=True)
    sandboxed("k", "docs_sfX", "dddd")
    assert os.path.isdir(other)
    # the pre-tag LEGACY name (bare prefix, no _tag) is also reclaimed
    legacy = os.path.join(os.path.dirname(other), "docs_sfZ")
    os.makedirs(legacy, exist_ok=True)
    sandboxed("k", "docs_sfZ", "eeee")
    assert not os.path.exists(legacy)


def test_derived_cache_path_lookup_is_side_effect_free_once_built(tmp_path, monkeypatch):
    """Once the current generation carries _SUCCESS, derived_cache_path
    is a pure lookup: it must NOT rmtree sibling generations, so a
    concurrent consumer of another tag (or an alternating run against
    two same-prefix datasets) never loses a just-validated cache to
    someone else's lookup (round-10 advisor)."""
    import music_database_spark.sources.loader as loader

    monkeypatch.setattr(
        loader.os.path, "abspath", lambda p: str(tmp_path / "pkg" / "sources" / "loader.py")
    )
    a = loader.derived_cache_path("k", "docs_sfA", "aaaa")
    os.makedirs(a, exist_ok=True)
    open(os.path.join(a, "_SUCCESS"), "w").close()
    b = loader.derived_cache_path("k", "docs_sfA", "bbbb")
    os.makedirs(b, exist_ok=True)
    open(os.path.join(b, "_SUCCESS"), "w").close()
    # b's build swept a (it lacked nothing — b had no _SUCCESS yet)...
    assert not os.path.exists(a)
    # ...but now that b is _SUCCESS-validated, re-looking up EITHER tag
    # leaves b alone: a's lookup (no _SUCCESS at a's path) may sweep
    # only when a is being (re)built — which it is here — so rebuild a,
    # validate it, and assert pure lookups stop sweeping both ways.
    a2 = loader.derived_cache_path("k", "docs_sfA", "aaaa")
    os.makedirs(a2, exist_ok=True)
    open(os.path.join(a2, "_SUCCESS"), "w").close()
    assert loader.derived_cache_path("k", "docs_sfA", "aaaa") == a2
    assert os.path.isdir(a2), "validated cache swept by its own lookup"


def test_derived_caches_key_by_content_not_path():
    """Every _SUCCESS-guarded .tmp cache site must key through
    source_content_tag — grep-level pin so a new cache site can't
    regress to basename-only keying without tripping this."""
    sites = {
        "music_database_spark/plans/scale.py": "bucketed",
        "music_database_spark/operators/knn.py": "ann_index",
        "music_database_spark/sources/formats.py": "dpp",
    }
    for rel, kind in sites.items():
        src = open(os.path.join(REPO, rel)).read()
        assert "source_content_tag" in src, f"{rel} ({kind}) lost content keying"
        assert "source_mtime_tag" not in src, f"{rel} still uses the mtime tag"


def test_scalecheck_requires_two_distinct_ks():
    import subprocess

    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scalecheck.py"), "--heavy", "4"],
        capture_output=True,
        text=True,
    )
    assert p.returncode != 0
    assert "two distinct K" in (p.stderr + p.stdout)


# --- registry-declared layout exemptions -----------------------------------


def test_layout_exemptions_live_on_the_registry():
    """The layout-invariance exemption is a QuerySpec declaration, and
    its membership is pinned: adding a new order-sensitive query to the
    exempt set requires changing BOTH the registration and this test —
    it cannot be done by editing tool code or prose."""
    import layoutcheck
    from music_database_spark.registry import load_all

    declared = {
        n: s.layout_exempt for n, s in load_all().items() if s.layout_exempt
    }
    assert sorted(declared) == [
        "x_approx_percentiles",
        "x_compaction",
        "x_rolling_distinct_hll",
        "x_sorted_layout",
    ]
    # each carries a documented why, and names its invariant twin or probe
    assert all(len(why) > 40 for why in declared.values())
    # the tool consumes exactly the registry's declarations
    assert layoutcheck.exempt_queries() == declared
    # every exemption is a rows-only query: an oracle-checked query can
    # never be layout-exempt (its hash check would be flaky by admission)
    reg = load_all()
    assert all(reg[n].oracle is None for n in declared)


def test_fresh_jvm_coldsweep_record_is_clean():
    """The shipped COLDSWEEP.json (fresh-JVM-per-family first builds)
    must stay under the same pathology bar the in-session gate uses —
    if this fails, a fresh-session cold pathology landed and needs a
    root cause in BASELINE.md §3."""
    import json

    import coldsweep

    path = os.path.join(REPO, "COLDSWEEP.json")
    if not os.path.exists(path):
        pytest.skip("no COLDSWEEP.json in this checkout")
    cold = json.load(open(path))["queries"]
    warm = json.load(open(os.path.join(REPO, "BENCH_FULL.json")))["queries"]
    assert not [q for q, v in cold.items() if v < 0], "coldsweep recorded errors"
    flagged = [
        q
        for q, v in cold.items()
        if warm.get(q, 0) > coldsweep.ALERT_MIN_WARM
        and v >= coldsweep.ALERT_MIN_SEC
        and v / warm[q] >= coldsweep.ALERT_RATIO
        and q not in coldsweep.ALERT_EXEMPT
    ]
    assert flagged == []
    # every exemption carries a documented why
    assert all(len(why) > 20 for why in coldsweep.ALERT_EXEMPT.values())


def test_plan_exchanges_stops_at_a_cached_subplan(spark):
    """A persisted frame with an inner shuffle contributes only the
    Exchanges above its scan: the plan string also holds its cached
    subplan's Exchange, which the run reads but does not execute."""
    from pyspark.sql import functions as F

    from jobcount import plan_exchanges

    inner = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().persist()
    try:
        inner.count()
        for df, above in ((inner.select("k"), 0), (inner.groupBy("count").count(), 1)):
            plan = df._jdf.queryExecution().executedPlan()
            assert plan_exchanges(plan) == above
            assert plan.toString().count("Exchange") > above
    finally:
        inner.unpersist()
