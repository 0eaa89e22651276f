"""session.cached / checkpoint / release, the one owner of a query's
intermediate state: a long-lived session that runs queries repeatedly,
releasing after each, keeps no persisted RDD, catalog entry or conf
change behind."""

from __future__ import annotations

from pyspark.sql import functions as F

from music_database_spark.registry import load_all
from music_database_spark.session import cached, checkpoint, release
from tests.conftest import SF_SMOKE as SF

# the iterative family (round checkpoints), the rank family (cached
# sources) and both memory-sink stream paths
SLICE = (
    "x_dedup_clusters",
    "x_dedup_clusters_star",
    "x_kcore",
    "x_sssp_weighted",
    "x_pagerank",
    "x_bfs",
    "x_bpe_train",
    "x_theilsen_slope",
    "x_stream_tumbling",
    "x_stream_python_source",
)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _state(spark):
    tables = sorted((t.name, t.isTemporary) for t in spark.catalog.listTables())
    return tables, {r.key: r.value for r in spark.sql("SET").collect()}


def test_release_unpersists_caches_and_checkpoints(spark):
    spark.catalog.clearCache()  # what other tests left
    release()
    base = spark.range(100).select((F.col("id") % 7).alias("k"))
    c = cached(base.groupBy("k").count())
    ck = checkpoint(base.distinct(), eager=True)
    assert c.count() == 7 and ck.count() == 7
    assert _persisted(spark) == 2
    release()
    assert _persisted(spark) == 0
    release()  # an empty registry is a no-op


def test_registry_slice_twice_in_one_session_leaks_nothing(spark):
    reg = load_all()
    spark.catalog.clearCache()
    release()
    for pass_no in (1, 2):
        for name in SLICE:
            before = _state(spark)
            reg[name].build(spark, SF).collect()
            release()
            assert _persisted(spark) == 0, f"{name} left persisted RDDs (pass {pass_no})"
            if pass_no == 2:
                tables, conf = _state(spark)
                assert tables == before[0], f"{name} changed the catalog"
                assert conf == before[1], f"{name} changed the SET map"
