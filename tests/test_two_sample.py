"""The two-sample spine (operators/ranking.py two_sample_grid, ecdf_peak,
rank_sum) that x_ks_test, x_ks_drift, x_mann_whitney and x_auc_roc
reduce: checked against DuckDB on degenerate samples and against a
pure-Python recomputation on generated ones."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

KS_SQL = """
    WITH per_v AS (
        SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca, CAST(SUM(1 - is_a) AS BIGINT) AS cb
        FROM lab GROUP BY v
    ), tot AS (
        SELECT CAST(COALESCE(SUM(is_a), 0) AS BIGINT) AS na,
               CAST(COALESCE(SUM(1 - is_a), 0) AS BIGINT) AS nb
        FROM lab
    ), cum AS (
        SELECT v, SUM(ca) OVER (ORDER BY v) AS cum_a, SUM(cb) OVER (ORDER BY v) AS cum_b
        FROM per_v
    )
    SELECT v, na, nb,
           abs(CAST(cum_a AS DOUBLE) / na - CAST(cum_b AS DOUBLE) / nb) AS d
    FROM cum, tot ORDER BY d DESC NULLS LAST, v LIMIT 1
"""

RANK_SUM_SQL = """
    WITH per_v AS (
        SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca, CAST(SUM(1 - is_a) AS BIGINT) AS cb,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lab GROUP BY v
    ), cum AS (
        SELECT ca, c,
               COALESCE(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev
        FROM per_v
    ), s AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(c - ca) AS BIGINT) AS nb,
               CAST(SUM(ca * (2 * cumprev + c + 1)) AS BIGINT) AS r1x2,
               CAST(SUM(c * c * c - c) AS BIGINT) AS ties
        FROM cum
    ), d AS (
        SELECT na, nb, r1x2 - na * (na + 1) AS u, ties,
               CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd
        FROM s
    )
    SELECT na, nb, u AS u1_x2,
           CAST(u AS DOUBLE) / (2.0 * nad * nbd) AS auc,
           (CAST(u AS DOUBLE) - nad * nbd)
               / (2.0 * sqrt((nad * nbd / 12.0)
                             * ((nad + nbd + 1.0)
                                - CAST(ties AS DOUBLE)
                                  / ((nad + nbd) * (nad + nbd - 1.0))))) AS z
    FROM d
"""


def _spine(spark, rows):
    from music_database_spark.operators.ranking import ecdf_peak, rank_sum, two_sample_grid

    lab = spark.createDataFrame(rows, "v long, is_a int")
    grid = two_sample_grid(lab)
    return [tuple(r) for r in ecdf_peak(grid).collect()], tuple(rank_sum(grid).collect()[0])


@pytest.mark.parametrize(
    "rows",
    [
        [(1, 1), (2, 1), (2, 1), (5, 1)],  # one-sided: nb = 0
        [(7, 1)],  # a single row
        [(3, 1), (3, 0), (3, 1), (3, 0)],  # every row one value
        [],  # empty
    ],
    ids=["one_sided", "single_row", "one_value", "empty"],
)
def test_spine_on_degenerate_samples_matches_duckdb(spark, rows):
    """Where an ECDF, AUC or z divides by zero the spine answers NULL, as
    DuckDB does, instead of raising under ANSI arithmetic."""
    from music_database_spark.session import release

    try:
        peak, ranks = _spine(spark, rows)
    finally:
        release()
    con = duckdb.connect()
    con.execute("CREATE TABLE lab (v BIGINT, is_a INTEGER)")
    if rows:
        con.executemany("INSERT INTO lab VALUES (?, ?)", rows)
    assert peak == con.execute(KS_SQL).fetchall()
    assert ranks == con.execute(RANK_SUM_SQL).fetchone()


def _ks(xs: list[int], ys: list[int]) -> tuple[float, int]:
    """D and the smallest value where the ECDF gap reaches it."""
    best = (-1.0, 0)
    for v in sorted(set(xs) | set(ys)):
        d = abs(sum(x <= v for x in xs) / len(xs) - sum(y <= v for y in ys) / len(ys))
        if d > best[0]:
            best = (d, v)
    return best


values = st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=15)


@settings(max_examples=8, deadline=None)
@given(values, values, st.booleans())
def test_spine_matches_python(spark, xs, ys, disjoint):
    """KS D (and where it peaks) and U·2 from the spine equal a direct
    recomputation: the ECDFs at every pooled value, and U counted over
    all (a, b) pairs with a tie worth one half. Small value ranges force
    ties; `disjoint` moves sample B above sample A."""
    from music_database_spark.session import release

    if disjoint:
        ys = [y + 7 for y in ys]
    try:
        peak, ranks = _spine(spark, [(x, 1) for x in xs] + [(y, 0) for y in ys])
    finally:
        release()
    d, at = _ks(xs, ys)
    assert peak == [(at, len(xs), len(ys), d)]
    u_x2 = sum(2 * (x > y) + (x == y) for x in xs for y in ys)
    assert ranks[:3] == (len(xs), len(ys), u_x2)
    assert ranks[3] == pytest.approx(u_x2 / (2 * len(xs) * len(ys)))
