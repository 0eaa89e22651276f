"""operators/graph.iterate, the fixpoint loop of the iterative family:
where it stops, what it returns, and how many jobs it starts."""

from __future__ import annotations

from pyspark.sql import functions as F

from music_database_spark.operators.graph import iterate
from music_database_spark.runtime import job_group


def _one_row(spark):
    # one partition: the witness aggregate over it needs no shuffle, so
    # its collect is exactly one job
    return spark.range(0, 1, 1, 1).select(F.col("id").alias("x"))


def _plus_one(df):
    return df.select((F.col("x") + 1).alias("x"))


def test_iterate_stops_on_first_repeated_witness(spark):
    def capped(df):
        return df.select(F.least(F.col("x") + 1, F.lit(3)).alias("x"))

    # states 1, 2, 3, 3: round 4 repeats round 3's witness
    state, rounds = iterate(_one_row(spark), capped, [F.sum("x")], 10)
    assert rounds == 4
    assert [r.x for r in state.collect()] == [3]


def test_iterate_returns_max_rounds_when_cap_binds(spark):
    state, rounds = iterate(_one_row(spark), _plus_one, [F.sum("x")], 3)
    assert rounds == 3
    assert [r.x for r in state.collect()] == [3]


def test_iterate_starts_one_job_per_round(spark):
    for cap in (2, 5):
        with job_group(spark, f"iterate_jobs_{cap}") as n:
            _state, rounds = iterate(_one_row(spark), _plus_one, [F.sum("x")], cap)
        assert rounds == cap
        assert n["jobs"] == rounds


def test_iterate_holds_at_most_two_rounds(spark):
    from music_database_spark import session

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    state, rounds = iterate(_one_row(spark), _plus_one, [F.sum("x")], 5)
    held = set(sc._jsc.getPersistentRDDs().keySet()) - before
    assert rounds == 5
    assert len(held) <= 2
    assert [r.x for r in state.collect()] == [5]
    session.release()
