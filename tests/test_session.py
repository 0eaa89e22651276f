"""Session conf lives in session.py: the conventions table is applied
where a session enters the engine (get_spark, tune_for_session, the
__spark_entry__ adapter), table reads write no conf, and pinned_conf
puts every key it pins back as it was."""

from __future__ import annotations

import pytest

import __spark_entry__
from music_database_spark.registry import load_all
from music_database_spark.session import CONVENTIONS, pinned_conf, tune_for_session
from music_database_spark.sources.loader import load_table, table_schema
from tests.conftest import SF_SMOKE as SF

LA = "America/Los_Angeles"


def _session_conf(spark) -> dict[str, str]:
    """Every explicitly set conf of the session (what `SET` lists)."""
    return {r[0]: r[1] for r in spark.sql("SET").collect()}


def test_tune_for_session_applies_every_convention(spark, monkeypatch):
    built = {k: spark.conf.get(k) for k in CONVENTIONS}
    before = _session_conf(spark)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    with pinned_conf(spark, {
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.shuffle.partitions": None,
        "spark.sql.session.timeZone": LA,
    }):
        tune_for_session(spark)
        tuned = {k: spark.conf.get(k) for k in CONVENTIONS}
    # every entry equals what get_spark set; an unset shuffle size takes
    # the local core count
    assert tuned == {**built, "spark.sql.shuffle.partitions": "3"}
    assert _session_conf(spark) == before
    # a session's own shuffle size (get_spark's 8 here) is kept
    tune_for_session(spark)
    assert _session_conf(spark) == before


def test_unset_shuffle_size_without_core_count_is_32(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    with pinned_conf(spark, {"spark.sql.shuffle.partitions": "200"}):
        tune_for_session(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_load_table_writes_no_session_conf(spark):
    table_schema(spark, SF, "events")  # the events reader's nanosAsLong flag
    with pinned_conf(spark, {"spark.sql.session.timeZone": LA}):
        before = _session_conf(spark)
        for t in ("orders", "events"):
            load_table(spark, SF, t)
        assert spark.conf.get("spark.sql.session.timeZone") == LA
        assert _session_conf(spark) == before


@pytest.mark.parametrize(
    "name", ["x_aqe_skew_join", "x_runtime_bloom_filter", "x_partition_overwrite"]
)
def test_queries_that_pin_conf_leave_the_session_unchanged(spark, name):
    table_schema(spark, SF, "events")
    before = _session_conf(spark)
    assert load_all()[name].build(spark, SF).collect()
    assert _session_conf(spark) == before


def test_pinned_conf_restores_set_and_unset_keys_when_the_body_raises(spark):
    unset = "spark.sql.autoBroadcastJoinThreshold"
    with pinned_conf(spark, {unset: None}):  # unset here, whatever ran before
        before = _session_conf(spark)
        assert "spark.sql.shuffle.partitions" in before and unset not in before
        with pytest.raises(RuntimeError, match="body failed"):
            with pinned_conf(spark, {
                "spark.sql.shuffle.partitions": "3",
                unset: "-1",
                "spark.sql.adaptive.skewJoin.enabled": None,
            }):
                assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
                assert spark.conf.get(unset) == "-1"
                assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled", None) is None
                raise RuntimeError("body failed")
        assert _session_conf(spark) == before
        assert spark.conf.get(unset, None) is None


def test_entry_queries_tune_the_session_they_are_given(spark):
    with pinned_conf(spark, {"spark.sql.session.timeZone": LA}):
        __spark_entry__.queries()["q1_singles_by_artist"](spark, SF).collect()
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_get_spark_turns_the_console_progress_bar_off(spark):
    # a bar on stderr would split a harness's per-query lines
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"
