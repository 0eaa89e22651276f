"""Scale-path join strategies (SURVEY.md §4.4, J5/J6 physical notes):
bucketed co-located joins and manual skew salting. Both produce results
identical to the plain join (full DuckDB oracles); what differs is the
physical plan, which is the point:

* ``x_bucketed_join`` — writes both fact tables bucketed+sorted by the
  join key, then joins the bucketed tables. The executed plan has NO
  shuffle Exchange before the join: each bucket pair joins in place.
  This is the 100 TB answer to the repeated lineitem⋈orders join — pay
  the partitioned write once, skip the shuffle on every subsequent join.
* ``x_salted_join`` — the manual skew treatment (AQE's skew-join split
  is the automatic one): the large side appends a salt in [0, S), the
  small side is replicated S times, the join key becomes (key, salt) so
  one hot key fans out across S tasks instead of serializing on one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import checkpoint, pinned_conf
from .relational import _t, dsum

N_BUCKETS = 8
N_SALT = 8

_AGG_ORACLE = """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY priority
"""


def _agg(joined: DataFrame) -> DataFrame:
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty"))
        .orderBy("priority")
    )


@register("x_bucketed_join", tags=("EXT", "J6", "S1"), oracle=_AGG_ORACLE)
def x_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact⋈fact join via bucketed tables: both sides written
    bucketBy(N_BUCKETS, orderkey) + sortBy, then joined through the
    catalog. Verify with .explain: no Exchange feeds the SortMergeJoin.
    The result is checked against the plain-join oracle — bucketing must
    never change semantics."""
    return _agg(bucketed_join_frame(spark, sf_dir))


def bucketed_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write both sides bucketed and return the catalog-table join frame
    (pre-aggregation) — tests assert its plan carries no Exchange.

    The bucketed layout is written once per sf directory and reused on
    later calls (guarded by Spark's _SUCCESS marker) — which is the whole
    economics of bucketing at 100 TB: pay the partitioned write once,
    then every subsequent join on the bucket key skips its shuffle."""
    # Path is keyed by (sf, bucket count, source content tag): a cached
    # layout written with a different N_BUCKETS must never be
    # re-registered under the new count, and a REGENERATED source at the
    # same path (the variantcheck re-materialization case, round-9
    # advisor finding) must never serve the previous data's buckets.
    from ..sources.loader import derived_cache_path, source_content_tag

    wh = derived_cache_path(
        "bucketed",
        f"{os.path.basename(os.path.normpath(sf_dir))}_b{N_BUCKETS}",
        source_content_tag(sf_dir, ["lineitem", "orders"]),
    )
    os.makedirs(wh, exist_ok=True)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    for name, df, key in [("li_bucketed", li, "l_orderkey"), ("od_bucketed", od, "o_orderkey")]:
        path = os.path.join(wh, name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            (
                df.write.format("parquet")
                .mode("overwrite")
                .option("path", path)
                .bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        else:
            # layout already on disk: re-register the external bucketed
            # table in this session's catalog without rewriting data
            cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {N_BUCKETS} BUCKETS "
                f"LOCATION '{path}'"
            )
    li_b = spark.table("li_bucketed")
    od_b = spark.table("od_bucketed")
    return li_b.join(od_b, li_b.l_orderkey == od_b.o_orderkey)


@register("x_salted_join", tags=("EXT", "J6"), oracle=_AGG_ORACLE)
def x_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join, semantically identical to the plain join:
    lineitem rows get salt = pmod(xxhash64(row id), N_SALT); orders rows
    are exploded across all N_SALT salt values; the join key is
    (orderkey, salt). A key with k rows lands on N_SALT tasks with ~k/S
    rows each instead of one task with k."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_linenumber")
        .withColumn("salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(N_SALT)))
    )
    od = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1)).cast("array<bigint>")))
    )
    joined = li.join(od, (li.l_orderkey == od.o_orderkey) & (li.salt == od.salt))
    return _agg(joined)


@register(
    "x_aqe_skew_join",
    tags=("EXT", "J6"),
    oracle="""
        SELECT o_orderpriority AS priority,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM (SELECT CASE WHEN l_orderkey % 16 <> 0 THEN 1 ELSE l_orderkey END AS k,
                     l_quantity
              FROM lineitem) l
        JOIN orders ON k = o_orderkey
        GROUP BY o_orderpriority ORDER BY priority
    """,
)
def x_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join split — the AUTOMATIC treatment x_salted_join does by
    hand: ~94% of lineitem is deliberately remapped onto ONE join key
    (l_orderkey % 16 <> 0 -> key 1), so the sort-merge shuffle's hot
    partition is ~4x its stage median. With
    spark.sql.adaptive.skewJoin enabled and the size thresholds scaled to
    the test data (at 100 TB the 256 MB defaults fire untouched), AQE's
    OptimizeSkewedJoin splits the hot partition into advisory-sized
    chunks and replicates the matching right-side rows per chunk — the
    hot key fans out across tasks with no manual salting and identical
    semantics (full DuckDB oracle).

    Two locality accommodations, both absent on a real cluster: the left
    input is repartitioned to 16 map tasks first, because a skewed
    partition can only split at MAPPER granularity and this testdata's
    single-row-group parquet otherwise feeds every hot row from one
    mapper (unsplittable); and the thresholds are lowered because 600k
    near-constant rows lz4-compress to ~100 KB of shuffle data. The
    query executes under the pinned confs at build time (AQE re-plans
    DURING execution, so a plan-freeze alone would not hold); the final
    adaptive plan — asserted in tests to carry SortMergeJoin(skew=true)
    — is exposed via aqe_skew_join_plan."""
    agg, _ = _aqe_skew_join_run(spark, sf_dir)
    return agg


def aqe_skew_join_plan(spark: SparkSession, sf_dir: str) -> str:
    """Final (post-execution) adaptive plan string of the skew-join demo,
    for the plan-shape test and PLANS.md evidence."""
    _, plan = _aqe_skew_join_run(spark, sf_dir)
    return plan


def _aqe_skew_join_run(spark: SparkSession, sf_dir: str):
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.when(F.col("l_orderkey") % 16 != 0, F.lit(1))
            .otherwise(F.col("l_orderkey"))
            .alias("k"),
            "l_quantity",
        )
        .repartition(16)  # many mappers: skew splits at mapper granularity
    )
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    with pinned_conf(spark, {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the SMJ path
    }):
        agg = _agg(li.join(od, li.k == od.o_orderkey))
        # Execute NOW, under the pins: localCheckpoint materializes the
        # 5-row aggregate through this DataFrame's own query execution,
        # so the adaptive plan finalizes (and splits the skewed
        # partition) while the thresholds are in force.
        ck = checkpoint(agg, eager=True)
        plan = agg._jdf.queryExecution().executedPlan().toString()
    return ck, plan


@register(
    "x_runtime_bloom_filter",
    tags=("EXT", "J6", "J5", "P5"),
    oracle="""
        SELECT p_brand AS brand,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_size = 1
        GROUP BY p_brand ORDER BY brand
    """,
)
def x_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime (Bloom) semi-join filter: a selective dim predicate
    (p_size = 1) makes Catalyst inject a bloom_filter_agg scalar
    subquery over the filtered part side and a might_contain() predicate
    on the lineitem scan — the fact table is pre-filtered to ~1/50 of
    its rows BEFORE the join shuffle, the runtime analog of static
    predicate pushdown. Semantics are identical to the plain join (full
    DuckDB oracle); tests assert might_contain appears in the plan.

    Two confs are pinned only while THIS plan is optimized, then
    restored: autoBroadcastJoinThreshold=-1 (at test scale the dim fits
    the broadcast threshold and InjectRuntimeFilter skips broadcast-able
    joins — on the 100 TB cluster a multi-GB dim shuffles and needs no
    such pin) and applicationSideScanSizeThreshold=0 (upstream default
    10GB: the injection only pays off against a big fact scan, which
    sf0.1 is not). Forcing queryExecution().executedPlan() inside the
    pinned scope freezes the injected plan into the returned DataFrame,
    so later .collect() by the driver executes the bloom-filtered join
    while the session confs are already back to their defaults."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 1)
    with pinned_conf(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }):
        q = (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy(F.col("p_brand").alias("brand"))
            .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty"))
            .orderBy("brand")
        )
        q._jdf.queryExecution().executedPlan()  # plan (and inject) under the pins
    return q
