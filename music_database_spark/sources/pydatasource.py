"""Custom Python data source (Spark 4 `pyspark.sql.datasource` API,
public SPIP): the engine's extensibility story for sources Spark has no
built-in reader for (internal telemetry feeds, bespoke binary logs,
service APIs). The exhibit source is a deterministic synthetic telemetry
generator — every value is a pure function of the row index, so the
DuckDB oracle reproduces the whole pipeline with generate_series and the
driver's value-hash check covers the source, not just the query on top.

Scale design: the reader declares `partitions()`, so Spark schedules one
Python task per split exactly like a file source — the generator shape
is (total rows / P) per task with zero skew, and a real feed would
partition on its native sharding (file ranges, topic partitions, time
windows). Rows stream from the reader as Arrow batches; nothing is
driver-side.

Reference parity: the reference reads fixture INSERTs only
(music_db.sql:111-191); custom sources extend SURVEY.md §2.1 S5.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..registry import register
from ..session import checkpoint

# Pickle this module's DataSource classes BY VALUE (cloudpickle), not by
# module reference. Spark's driver-side PythonStreamingSourceRunner
# subprocess unpickles the registered source BEFORE any task runs, and —
# unlike the batch plan_data_source_read worker — it does not reliably
# see the addPyFile zip, so a by-reference pickle dies with
# ModuleNotFoundError whenever the launching process' cwd is not the
# repo root (found by the round-7 vanilla-session rehearsal; the driver
# happened to mask it by running from the repo). By-value capture makes
# the classes self-contained: they reference only pyspark base classes
# and the integer constants above, both of which serialize cleanly.
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # pragma: no cover - vendored cloudpickle too old
    pass

SENSOR_ROWS = 20_000  # default generator size
SENSOR_SPLITS = 8  # reader partitions
N_SENSORS = 50
# LCG-ish mix constants (Knuth multiplicative hash; public)
MIX_MUL, MIX_ADD, MIX_MOD = 2654435761, 104729, 1000003


class SensorGenReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", SENSOR_ROWS))
        self.splits = int(options.get("partitions", SENSOR_SPLITS))

    def partitions(self):
        per = (self.n + self.splits - 1) // self.splits
        return [
            InputPartition((lo, min(lo + per, self.n)))
            for lo in range(0, self.n, per)
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        lo, hi = partition.value
        for i in range(lo, hi):
            yield (i, i % N_SENSORS, (i * MIX_MUL + MIX_ADD) % MIX_MOD)


class SensorGenSource(DataSource):
    """`spark.read.format("sensorgen").option("n", ...)` — deterministic
    synthetic telemetry: reading_id, sensor_id, raw (integer milli-unit
    measurement)."""

    @classmethod
    def name(cls) -> str:
        return "sensorgen"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("reading_id", LongType()),
                StructField("sensor_id", IntegerType()),
                StructField("raw", LongType()),
            ]
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return SensorGenReader(self.options)


_REGISTERED: set[str] = set()


def register_sensorgen(spark: SparkSession) -> None:
    # The reader classes unpickle by module reference on Python workers,
    # so the package zip must be shipped even though this query never
    # touches a driver table (the usual ensure_worker_imports trigger).
    from .loader import ensure_worker_imports

    ensure_worker_imports(spark)
    app = spark.sparkContext.applicationId
    if app not in _REGISTERED:
        spark.dataSource.register(SensorGenSource)
        _REGISTERED.add(app)


@register(
    "x_python_datasource",
    tags=("EXT", "S5", "A1", "A7"),
    oracle=f"""
        SELECT sensor_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(raw) AS BIGINT) AS sum_raw,
               CAST(CAST(SUM(raw) AS DOUBLE)
                    / (CAST(COUNT(*) AS DOUBLE) * 1000.0) AS DOUBLE) AS avg_value
        FROM (
            SELECT CAST(i % {N_SENSORS} AS INTEGER) AS sensor_id,
                   (i * {MIX_MUL} + {MIX_ADD}) % {MIX_MOD} AS raw
            FROM (SELECT unnest(generate_series(0, {SENSOR_ROWS - 1})) AS i) g
        ) s
        GROUP BY sensor_id ORDER BY sensor_id
    """,
)
def x_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A query whose SOURCE is a custom Python DataSource (Spark 4
    `pyspark.sql.datasource`): the sensorgen generator streams
    SENSOR_ROWS deterministic telemetry rows from SENSOR_SPLITS
    parallel reader partitions, then a per-sensor rollup aggregates
    them. Every value is a pure integer function of the row index, so
    the DuckDB oracle regenerates the identical feed with
    generate_series — the differential check certifies the source
    machinery end-to-end (partition planning, per-split reads, Arrow
    transfer), not just the aggregation.

    100 TB design: `partitions()` is the scale contract — Spark
    schedules one task per split with no driver materialization, so a
    real custom feed parallelizes exactly like a file scan; the rollup
    is a map-side-combinable groupBy on a N_SENSORS-value key. The avg
    divides once at the end (integer sum, one double division —
    cross-engine exact)."""
    register_sensorgen(spark)
    df = (
        spark.read.format("sensorgen")
        .option("n", str(SENSOR_ROWS))
        .option("partitions", str(SENSOR_SPLITS))
        .load()
    )
    return (
        df.groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("raw").cast("bigint").alias("sum_raw"),
        )
        .select(
            "sensor_id",
            "n",
            "sum_raw",
            (
                F.col("sum_raw").cast("double")
                / (F.col("n").cast("double") * F.lit(1000.0))
            ).alias("avg_value"),
        )
        .orderBy("sensor_id")
    )


STREAM_ROWS = 5_000  # total rows the stream source emits
STREAM_CHUNK = 1_000  # rows per micro-batch read


class SensorStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked streaming read over the same deterministic
    generator: offsets are {"i": next_row}, each read() hands back up to
    STREAM_CHUNK rows and the advanced offset, and readBetweenOffsets
    replays any committed range bit-identically — the exactly-once
    replay contract a real feed (Kafka offsets, file positions) must
    honor."""

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        lo = start["i"]
        hi = min(lo + STREAM_CHUNK, STREAM_ROWS)
        if hi <= lo:
            # Drained: offsets stop advancing. PySpark's
            # _SimpleStreamReaderWrapper.add_result_to_cache validates the
            # end==start case by calling next(it) and expecting
            # StopIteration, so the empty batch MUST be an iterator — a
            # plain list raises TypeError there and kills the query on
            # every post-drain latestOffset tick. Non-empty batches stay
            # lists (see _rows) because the runner copy.copy()s them for
            # replay.
            return (iter(()), start)
        return (self._rows(lo, hi), {"i": hi})

    def readBetweenOffsets(self, start: dict, end: dict):
        # Replay runs WORKER-side (plan_data_source_read) and that path
        # validates the return is an ITERATOR — a plain list raises
        # DATA_SOURCE_INVALID_RETURN_TYPE and kills every post-restart
        # replay batch (found by x_stream_recovery; the prefetch path in
        # read() has the opposite constraint, see _rows).
        return iter(self._rows(start["i"], end["i"]))

    @staticmethod
    def _rows(lo: int, hi: int):
        # A LIST, not a generator: the streaming runner caches and
        # copy.copy()s the returned iterator for offset replay, and
        # generators are neither copyable nor picklable.
        return [
            (i, i % N_SENSORS, (i * MIX_MUL + MIX_ADD) % MIX_MOD)
            for i in range(lo, hi)
        ]


class SensorStreamSource(DataSource):
    """`spark.readStream.format("sensorstream")` — the streaming twin of
    sensorgen."""

    @classmethod
    def name(cls) -> str:
        return "sensorstream"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("reading_id", LongType()),
                StructField("sensor_id", IntegerType()),
                StructField("raw", LongType()),
            ]
        )

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return SensorStreamReader()


def register_sensorstream(spark: SparkSession) -> None:
    from .loader import ensure_worker_imports

    ensure_worker_imports(spark)
    app = spark.sparkContext.applicationId
    key = f"stream:{app}"
    if key not in _REGISTERED:
        spark.dataSource.register(SensorStreamSource)
        _REGISTERED.add(key)


@register(
    "x_stream_python_source",
    tags=("EXT", "S5", "T5", "A1", "A7"),
    bench=False,
    oracle=f"""
        SELECT sensor_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(raw) AS BIGINT) AS sum_raw
        FROM (
            SELECT CAST(i % {N_SENSORS} AS INTEGER) AS sensor_id,
                   (i * {MIX_MUL} + {MIX_ADD}) % {MIX_MOD} AS raw
            FROM (SELECT unnest(generate_series(0, {STREAM_ROWS - 1})) AS i) g
        ) s
        GROUP BY sensor_id ORDER BY sensor_id
    """,
)
def x_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A TRUE STREAM whose source is a custom Python
    SimpleDataSourceStreamReader: the generator feed arrives in
    offset-tracked micro-batches (STREAM_ROWS / STREAM_CHUNK of them
    under availableNow), flows through a streaming aggregation, and
    drains into the memory sink; the batch oracle regenerates the same
    feed with generate_series, so offset bookkeeping, micro-batch
    chunking, and replay are all value-hash-checked. Combines the two
    rarest surfaces — Python data sources and Structured Streaming —
    in one driver-visible query.

    100 TB design: offsets are the source's native positions (here a
    row index; in production Kafka offsets / file byte ranges), state
    is the streaming agg's (N_SENSORS keys), and readBetweenOffsets
    gives failure replay without reprocessing from zero. Integer
    counts/sums only — microbatch-boundary independent."""
    import time
    import uuid

    register_sensorstream(spark)
    stream = spark.readStream.format("sensorstream").load()
    agg = stream.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("raw").cast("bigint").alias("sum_raw"),
    )
    # availableNow over a Simple Python stream reader drains only the
    # prefetched first chunk, so run with a continuous micro-batch
    # trigger and stop once every offset has been consumed (total count
    # reaches STREAM_ROWS) — this is what actually exercises multi-batch
    # offset advance + commit.
    table = f"py_stream_src_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            total = spark.sql(f"SELECT SUM(n) AS t FROM {table}").collect()[0]["t"]
            if total == STREAM_ROWS:
                break
            time.sleep(0.2)
        else:  # pragma: no cover - only on stream stall
            raise TimeoutError("python stream source did not drain")
    finally:
        q.stop()
    out = spark.table(table).orderBy("sensor_id")
    spark.catalog.dropTempView(table)  # the frame's plan holds the sink itself
    return out


@register(
    "x_stream_recovery",
    tags=("EXT", "S5", "T5", "S6"),
    bench=False,
    oracle=f"""
        SELECT sensor_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(raw) AS BIGINT) AS sum_raw
        FROM (
            SELECT CAST(i % {N_SENSORS} AS INTEGER) AS sensor_id,
                   (i * {MIX_MUL} + {MIX_ADD}) % {MIX_MOD} AS raw
            FROM (SELECT unnest(generate_series(0, {STREAM_ROWS - 1})) AS i) g
        ) s
        GROUP BY sensor_id ORDER BY sensor_id
    """,
)
def x_stream_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE CHECKPOINT RECOVERY, end to end: the offset-tracked
    Python stream writes raw rows to a fault-tolerant PARQUET sink,
    the query is KILLED mid-stream (after the first committed batch),
    then restarted with the same checkpoint — the restarted query must
    resume from the last committed offset (replaying any in-flight
    batch via readBetweenOffsets) so the sink ends with EXACTLY
    STREAM_ROWS rows: no loss from the kill, no duplicates from the
    replay. The final batch aggregate over the sink hash-matches the
    same oracle as x_stream_python_source — if recovery dropped or
    duplicated even one row, the sums diverge.

    This is the fault-tolerance contract a 100 TB ingest relies on:
    offsets + idempotent file-manifest sink = exactly-once, regardless
    of where the executor died. Memory sinks can't show this (not
    fault-tolerant); the parquet sink's transaction log is what makes
    the restart safe."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    register_sensorstream(spark)
    tmp_root = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run = uuid.uuid4().hex[:8]
    ckpt = os.path.join(tmp_root, f"recovery_ckpt_{run}")
    out = os.path.join(tmp_root, f"recovery_out_{run}")

    def start():
        return (
            spark.readStream.format("sensorstream")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )

    def committed_rows() -> int:
        try:
            return spark.read.parquet(out).count()
        except Exception:  # sink dir not created yet
            return 0

    # Phase 1: run until at least one batch is committed, then KILL.
    q = start()
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if committed_rows() > 0:
                break
            time.sleep(0.05)
    finally:
        q.stop()  # mid-stream kill (possibly mid-batch)
    # Phase 2: restart from the same checkpoint; drain to completion.
    # Restarting a SimpleDataSourceStreamReader replays any planned-but-
    # uncommitted batch via readBetweenOffsets, and the wrapper's
    # current_offset seeding "depends on the streaming engine calling
    # planInputPartitions() of the last batch in offset log when query
    # restart" (pyspark/sql/datasource_internal.py) — a latestOffset tick
    # winning that race can abort the restart. Exactly-once is preserved
    # either way (the sink manifest is transactional), so a failed
    # restart is simply retried; the final row count proves no loss and
    # no duplication regardless of how many attempts it took.
    last_err = None
    for _ in range(4):
        q = start()
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                if committed_rows() == STREAM_ROWS:
                    break
                exc = q.exception()
                if exc is not None:
                    last_err = exc
                    break
                time.sleep(0.1)
        finally:
            q.stop()
        if committed_rows() == STREAM_ROWS:
            break
    else:  # pragma: no cover - only on persistent recovery failure
        raise TimeoutError(
            f"recovery did not converge: {committed_rows()} != {STREAM_ROWS}"
            f" (last stream error: {last_err})"
        )
    # materialized BEFORE the temp dirs are removed
    result = checkpoint(
        spark.read.parquet(out)
        .groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("raw").cast("bigint").alias("sum_raw"),
        )
        .orderBy("sensor_id"),
        eager=True,
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    return result
