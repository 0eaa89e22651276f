"""SparkSession factory and the engine's session conventions.

CONVENTIONS (SURVEY.md §4.4) is the one table of the SQL confs the
engine relies on, and this is the one module that sets session conf
(``loader.table_schema``'s nanosAsLong aside: a read requirement of the
events format). ``get_spark`` feeds the table to its builder;
``tune_for_session`` applies it to a session built elsewhere, the
driver's, through ``__spark_entry__``. So a session gets it where it
enters the engine, never per table read. A conf a query needs only
while it plans goes through ``pinned_conf``, which restores it exactly.

It also owns the lifetime of a query's intermediate state: every
persist and local checkpoint an operator takes goes through ``cached``
or ``checkpoint``, which register it, and a harness drains the
registry with one ``release()`` after the query's sink.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# InferFiltersFromGenerate clones a generate's INPUT EXPRESSION into an
# inferred `size(e) > 0 AND isnotnull(e)` predicate below the Generate.
# For an explode over a COMPUTED array (shingle sets, winnowed
# fingerprints, chunk lists — this engine's bread and butter) that
# re-evaluates the whole array pipeline per row, interpreted (HOFs never
# codegen inside a Predicate), and filter pushdown then drags it below
# any repartition — so the most expensive expression in the query runs
# a second time, single-task, in the scan stage. Measured on
# x_winnow_candidates at 2x sf0.1: 199 s with the rule, 3.7 s without,
# identical results (round-9 variantcheck find; PLANS.md "Round-9
# inferred-filter audit"). The rule's upside (pruning empty arrays
# before the Generate) is nil here: size()/isnotnull() never reach
# parquet pushdown, and Generate itself drops empty arrays. Excluding
# an optimizer rule never changes query semantics, only plans.
EXCLUDED_OPTIMIZER_RULES: tuple[str, ...] = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
)


def _excluded_rules_conf(existing: str | None = None) -> str:
    """The comma-joined value for spark.sql.optimizer.excludedRules,
    merged with any exclusions already configured on the session so
    applying our conventions never silently drops a caller's own rule
    exclusions (order-preserving union; the conf is a comma list)."""
    merged = [r.strip() for r in (existing or "").split(",") if r.strip()]
    merged += [r for r in EXCLUDED_OPTIMIZER_RULES if r not in merged]
    return ",".join(merged)


def _local_shuffle_partitions(current: str | None) -> str:
    """The local core count while the session has the 200 default."""
    if current not in (None, "200"):
        return current
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return cpus if cpus.isdigit() else "32"


# a value, or a rule from the session's current value (None: unset)
CONVENTIONS: dict[str, str | Callable[[str | None], str]] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # year()/window()/date_format follow the session zone, while DuckDB
    # reads the same parquet values as naive wall-clock
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",  # vectorized Python<->JVM
    "spark.sql.optimizer.excludedRules": _excluded_rules_conf,
    # on a cluster ~2-3x its cores; AQE coalesces down from there
    "spark.sql.shuffle.partitions": _local_shuffle_partitions,
}


def _conventions(current: Callable[[str], str | None]) -> dict[str, str]:
    return {k: v if isinstance(v, str) else v(current(k)) for k, v in CONVENTIONS.items()}


def get_spark(
    app_name: str = "music-database-spark",
    cpus: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    conf = {
        **_conventions(lambda _key: None),
        # a built session sizes shuffles explicitly, not by the 200 rule
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        "spark.ui.enabled": "false",
        # a progress bar on stderr would split the harnesses' own lines
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply CONVENTIONS to a session this package did not build (the
    driver hands us its own SparkSession in __spark_entry__). Idempotent."""
    for k, v in _conventions(lambda key: spark.conf.get(key, None)).items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # pragma: no cover - only reachable on exotic sessions
            # an unapplied zone would surface as opaque oracle mismatches
            logging.getLogger(__name__).warning("convention %s=%s not applied: %s", k, v, e)
    return spark


def _set_conf(spark: SparkSession, conf: dict[str, str | None]) -> None:
    for k, v in conf.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@contextmanager
def pinned_conf(spark: SparkSession, pins: dict[str, str | None]) -> Iterator[SparkSession]:
    """Hold ``pins`` (None unsets) for a ``with`` body, then restore
    each key's prior value, or unset it if it had none, also when the
    body raises. Restoring the effective default instead would leave it
    set explicitly on a long-lived session."""
    saved = {k: spark.conf.get(k, None) for k in pins}
    try:
        _set_conf(spark, pins)
        yield spark
    finally:
        _set_conf(spark, saved)


# What cached/checkpoint took since the last release(): persisted
# DataFrames, and the RDDs behind local checkpoints, which no DataFrame
# unpersist or clearCache() reaches.
_HELD: list = []


def cached(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered for the next ``release()``."""
    _HELD.append(df.persist())
    return df


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``, its RDD registered for the next
    ``release()``. The checkpoint's analysed plan is a LogicalRDD over
    that RDD; a lazy one is materialized by the first action on it."""
    ck = df.localCheckpoint(eager)
    _HELD.append(ck._jdf.queryExecution().analyzed().rdd())
    return ck


def release_checkpoint(ck: DataFrame) -> None:
    """Unpersist one frame ``checkpoint`` returned, without blocking,
    and drop it from the registry. Only once nothing still to be
    consumed reads it: it has no lineage to recompute from."""
    rdd_id = ck._jdf.queryExecution().analyzed().rdd().id()
    for i, held in enumerate(_HELD):
        if not isinstance(held, DataFrame) and held.id() == rdd_id:
            del _HELD[i]
            held.unpersist(False)
            return


def release() -> None:
    """Unpersist everything ``cached`` and ``checkpoint`` registered
    since the last call, without blocking, and empty the registry.

    Call it only once every result built since the last release has
    been consumed: a released persist is recomputed on its next use,
    but a released local checkpoint has no lineage to recompute from,
    so a frame that reads one fails."""
    while _HELD:
        _HELD.pop().unpersist(False)
