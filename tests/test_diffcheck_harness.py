"""The local differential harness must catch the oracle-type bug class
that produced round 5's one red driver row (x_seq_packing: a DuckDB
windowed SUM is HUGEINT, reaches pandas as float64 `0.0`, and the
driver's stringified hash diverges from Spark's bigint `0`).

Two layers of defense, both tested here:
1. normalize() stringifies floats driver-style (repr), so an int-vs-
   float divergence fails value comparison locally.
2. audit_oracle_types() DESCRIBEs every oracle and flags HUGEINT /
   UHUGEINT / DECIMAL output columns before values are even compared.

Also tested here: compare(), the one check every sweep dataset goes
through, and that a sweep releases each query's caches and checkpoints.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))

from diffcheck import audit_oracle_types, compare, normalize, sweep  # noqa: E402


def test_normalize_distinguishes_int_from_float_zero():
    """The exact x_seq_packing failure shape: oracle bin=0.0 (float64
    from HUGEINT), Spark bin=0 (int64). The old '%.17g' formatting
    rendered both as '0'; driver-style repr must NOT."""
    spark_side = normalize(pd.DataFrame({"bin": pd.array([0, 1], dtype="int64")}))
    oracle_side = normalize(pd.DataFrame({"bin": pd.array([0.0, 1.0], dtype="float64")}))
    assert not spark_side.equals(oracle_side)
    assert list(oracle_side["bin"]) == ["0.0", "1.0"]
    assert list(spark_side["bin"]) == ["0", "1"]


def test_normalize_repr_keeps_full_float_precision():
    """repr round-trips float64 exactly, so last-ulp divergence between
    engines still fails the check (the bit-identical-floats bar)."""
    import math

    vals = [0.1, 1 / 3, math.pi, 1e-300, 1.5, float(2**53 + 2)]
    nudged = [v if i != 2 else math.nextafter(v, 2) for i, v in enumerate(vals)]
    a = normalize(pd.DataFrame({"v": vals}))
    b = normalize(pd.DataFrame({"v": nudged}))
    assert not a.equals(b)
    assert {float(s) for s in a["v"]} == set(vals)


def _con():
    con = duckdb.connect()
    con.execute("CREATE VIEW t AS SELECT * FROM (VALUES (1::BIGINT), (2::BIGINT)) v(x)")
    return con


def test_audit_flags_uncast_hugeint_probe():
    """A deliberately un-CAST windowed-SUM derivation (the x_seq_packing
    shape) must be flagged — this is round-5 verdict ask #3's done-bar."""
    probe = """
        SELECT x, (SUM(x) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - x) // 2 AS bin
        FROM t
    """
    risky = audit_oracle_types(_con(), "probe", probe)
    assert any("bin" in r and "HUGEINT" in r for r in risky), risky


def test_audit_flags_uncast_decimal_literal():
    """A bare decimal literal column (the x_dp_noisy_counts epsilon
    shape) is DECIMAL in DuckDB and must be flagged too."""
    risky = audit_oracle_types(_con(), "probe", "SELECT x, 1.0 AS epsilon FROM t")
    assert any("epsilon" in r and "DECIMAL" in r for r in risky), risky


def test_audit_passes_cast_probe():
    probe = """
        SELECT x,
               CAST((SUM(x) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - x) // 2
                    AS BIGINT) AS bin,
               CAST(1.0 AS DOUBLE) AS epsilon
        FROM t
    """
    assert audit_oracle_types(_con(), "probe", probe) == []


def test_every_registered_oracle_is_type_clean():
    """Sweep the full registry: no oracle may output a risky-typed
    column. This is the sweep that would have caught x_seq_packing
    before the driver did."""
    from diffcheck import duck_con

    from music_database_spark.registry import load_all

    sf_dir = "/root/testdata/sf0.001"
    con = duck_con(sf_dir)
    bad = {}
    for name, spec in load_all().items():
        if spec.oracle is None:
            continue
        risky = audit_oracle_types(con, name, spec.oracle)
        if risky:
            bad[name] = risky
    assert bad == {}, bad


def test_compare_passes_equal_results_in_any_row_order():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert compare(a, a.iloc[::-1]) is None


def test_compare_names_each_kind_of_mismatch():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert compare(a, a.rename(columns={"v": "w"})) == "columns ['k', 'v'] vs ['k', 'w']"
    assert compare(a, a.head(1)) == "rowcount 2 vs 1"
    why = compare(a, a.assign(v=[0.5, 2.5]))
    assert why.startswith("1 differing rows of 2\n")
    assert "'v': '1.5'" in why and "'v': '2.5'" in why


def test_reference_sweep_releases_after_every_query(spark):
    """x_ks_test caches and x_pagerank checkpoints its loop rounds; the
    sweep releases both after each run, on either side."""
    from music_database_spark.session import release
    from tests.conftest import SF_SMOKE

    spark.catalog.clearCache()  # what other tests left
    release()
    assert sweep(spark, SF_SMOKE, ["x_ks_test", "x_pagerank"], reference=SF_SMOKE) == []
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
