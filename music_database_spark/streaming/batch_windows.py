"""Time-window operators over the events table (SURVEY.md §2.8 T1-T3)
plus true Structured-Streaming execution of the same plans (T4-T6).

T1-T3 run in batch mode for the driver's differential check —
``F.window`` / ``F.session_window`` produce identical results on batch
and streaming DataFrames, so correctness is pinned against DuckDB here
and the streaming smoke (``stream_*`` functions + tests) proves the
same plans execute under ``readStream`` with watermarks and the
``availableNow`` trigger.

Scale notes: windowed aggregation shuffles on (window, keys) — at
100 TB the hour buckets are high-cardinality in combination with the
grouping key, and partial aggregation happens map-side before the
exchange. Session windows shuffle on user_id (high-cardinality) — the
state per key is one open session, the Structured-Streaming state-store
shape.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.relational import _t
from ..registry import register
from ..sources.loader import table_schema

SESSION_GAP = "30 minutes"


@register(
    "x_tumbling",
    tags=("EXT", "T1"),
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_start,
               COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1 ORDER BY hour_start
    """,
)
def x_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts (T1). Epoch-aligned windows ==
    date_trunc('hour'), so DuckDB oracles it exactly."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("hour_start"),
            "n",
            "n_users",
        )
        .orderBy("hour_start")
    )


@register(
    "x_sliding",
    tags=("EXT", "T2"),
    oracle="""
        SELECT strftime(win_start, '%Y-%m-%d %H:%M:00') AS win_start, COUNT(*) AS n
        FROM (
            SELECT ts, date_trunc('minute', ts)
                       - INTERVAL (EXTRACT(minute FROM ts)::INT % 15) MINUTE
                       - INTERVAL (k * 15) MINUTE AS win_start
            FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
        ) t
        GROUP BY 1 ORDER BY win_start
    """,
)
def x_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (T2): 1-hour windows every 15 minutes — each event
    lands in exactly 4 epoch-aligned windows, which is how the oracle
    enumerates them (truncate to the 15-minute grid, step back 0..3)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:00").alias("win_start"), "n")
        .orderBy("win_start")
    )


@register(
    "x_session",
    tags=("EXT", "T3"),
    oracle="""
        WITH flags AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flags
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
)
def x_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window (T3): per-user sessions closed by a 30-minute gap.
    Spark merges strictly-overlapping [ts, ts+gap) intervals, so a gap of
    exactly 30 minutes starts a new session — the oracle's lag-based
    segmentation uses >= to match. Second-level timestamps avoid
    sub-second formatting differences (event ts are whole microseconds;
    session starts are actual event times)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# --- true Structured Streaming (T4-T6): smoke-level, exercised by tests ---

def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (same ts normalization as
    the batch loader: nanos-as-long or native timestamp[us], by generation)."""
    # The batch loader's memoized footer schema (table_schema also sets
    # nanosAsLong) tells the testdata generation apart: INT64 epoch-nanos
    # vs parquet timestamp[us].
    schema = table_schema(spark, sf_dir, "events")
    ts_is_long = isinstance(schema["ts"].dataType, T.LongType)
    # File-source streams need a directory. The events table ships in two
    # physical shapes: a single `events.parquet` FILE (driver testdata —
    # stream the sf dir with a glob selecting just that file) or an
    # `events.parquet` DIRECTORY of part files (the real-deployment shape,
    # and what any Spark writer produces — stream the directory itself;
    # a leaf-name glob of "events.parquet" would match zero part files
    # and silently yield an empty stream, the round-9 layoutcheck catch).
    events_path = os.path.join(sf_dir, "events.parquet")
    reader = spark.readStream.schema(schema).format("parquet")
    if os.path.isdir(events_path):
        raw = reader.load(events_path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    if ts_is_long:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_available_now(stream_df: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming plan to completion with the availableNow trigger
    into a memory sink; returns the materialized result table."""
    tmp_root = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".tmp")
    os.makedirs(tmp_root, exist_ok=True)
    ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=tmp_root)
    table = f"{name}_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # The checkpoint is only needed while the query runs (availableNow
    # drains to completion); leaving it would accumulate one dir per
    # invocation across bench/test runs.
    shutil.rmtree(ckpt, ignore_errors=True)
    # The frame's analysed plan holds the sink itself, so the view can
    # go at once; kept, every run would add one to the catalog.
    out = stream_df.sparkSession.table(table)
    stream_df.sparkSession.catalog.dropTempView(table)
    return out


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T4: watermarked tumbling-window count executed as a real stream.
    With availableNow over a static file the watermark drops nothing, so
    the result equals the batch x_tumbling plan — asserted in tests."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("hour_start"), "n")
    )
    return _run_available_now(agg, "tumbling")


def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 as a true stream: watermarked per-user session windows. With
    availableNow over a static file nothing is late, so session counts
    equal the batch x_session plan — asserted in tests."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    return _run_available_now(agg, "session")


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: stateful streaming dedup — dropDuplicatesWithinWatermark on
    event_id, then count per event_type."""
    stream = _events_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _run_available_now(agg, "dedup")


def stream_static_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: stream-static join — the event stream enriched against the
    static customer dimension (user_id -> c_custkey), counted per nation.
    The static side is a broadcastable dim exactly as in batch."""
    stream = _events_stream(spark, sf_dir)
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = stream.join(customer, stream.user_id == customer.c_custkey)
    agg = joined.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n"))
    return _run_available_now(agg, "stream_static")


@register(
    "x_stream_static_join",
    tags=("EXT", "T6", "J1"),
    bench=False,
    oracle="""
        SELECT c_nationkey, COUNT(*) AS n
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def x_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (T6) run as a true stream: the event stream
    enriched against the static customer dim, counted per nation. With
    availableNow over a static source the stream drains in one batch and
    the join equals the batch join — integer counts, so the full batch
    oracle applies (equality with the batch plan is also pinned in
    tests)."""
    return stream_static_join_counts(spark, sf_dir).orderBy("c_nationkey")


@register(
    "x_stream_tumbling",
    tags=("EXT", "T1", "T4"),
    bench=False,
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_start,
               COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY hour_start
    """,
)
def x_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible proof that the windowed plan runs as a true stream
    (readStream -> watermark -> window agg -> availableNow). Nothing is
    late over a drained static source, so the watermarked stream result
    equals the batch tumbling window exactly — epoch-aligned windows ==
    date_trunc('hour'), integer counts, full oracle."""
    return stream_tumbling_counts(spark, sf_dir).orderBy("hour_start")


def stream_stream_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 completion — stream-STREAM inner join with event-time bounds:
    views joined to purchases of the same user landing within one hour.
    Both sides carry watermarks and the join condition carries the time
    range, so Spark can evict join state: at 100 TB of continuous events
    the state store holds only the last hour of views per user, not the
    full history. The join itself is the only stateful operator in the
    streaming plan (the per-user rollup happens on the materialized
    result) — chaining stateful ops in one stream is the pattern
    Structured Streaming restricts."""
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR"
        ),
    ).select("v_user", "v_ts", "p_ts")
    return _run_available_now(joined, "stream_stream", output_mode="append")


@register(
    "x_stream_stream_join",
    tags=("EXT", "T6", "T4", "J8"),
    bench=False,
    oracle="""
        SELECT v.user_id,
               COUNT(*) AS n_pairs
        FROM events v
        JOIN events p
          ON p.user_id = v.user_id
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        GROUP BY v.user_id ORDER BY v.user_id
    """,
)
def x_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join run as a true stream, then rolled up per user.
    With the availableNow trigger over a static file every row arrives
    inside the watermark, so the streaming join's append output equals
    the batch time-range join — which is exactly the DuckDB oracle, making
    this the value-hash-CHECKED streaming query (the other T-row streams
    are rows-only)."""
    pairs = stream_stream_join_counts(spark, sf_dir)
    return (
        pairs.groupBy(F.col("v_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


@register(
    "x_stream_foreach_batch",
    tags=("EXT", "T6", "S6"),
    bench=False,
    oracle="""
        SELECT event_type, COUNT(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def x_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch production sink pattern: each micro-batch lands
    through arbitrary batch code — here a per-type count upsert into an
    accumulator table — giving streaming jobs access to every batch
    writer (merge into a warehouse table, multi-sink fan-out) that
    writeStream lacks natively. availableNow + a static source makes the
    result deterministic: one batch, totals equal the batch groupBy, so
    the upserted table is fully oracle-checked (and pinned in tests)."""
    import tempfile

    tmp_root = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".tmp")
    os.makedirs(tmp_root, exist_ok=True)
    ckpt = tempfile.mkdtemp(prefix="ckpt_fb_", dir=tmp_root)
    target = os.path.join(tempfile.mkdtemp(prefix="fb_", dir=tmp_root), "counts")

    stream = _events_stream(spark, sf_dir).select("event_type")

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        try:
            existing = batch_df.sparkSession.read.parquet(target)
            merged = (
                existing.unionByName(agg)
                .groupBy("event_type")
                .agg(F.sum("n").cast("bigint").alias("n"))
            )
        except Exception:
            merged = agg.withColumn("n", F.col("n").cast("bigint"))
        merged.write.mode("overwrite").parquet(target + f"_stage{batch_id}")
        batch_df.sparkSession.read.parquet(target + f"_stage{batch_id}").write.mode(
            "overwrite"
        ).parquet(target)
        shutil.rmtree(target + f"_stage{batch_id}", ignore_errors=True)

    q = (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Materialize the upserted table into a local DataFrame BEFORE the
    # disk sweep, so the returned frame has no dependence on the fb_
    # files — a second build can then safely reclaim every earlier
    # run's result/checkpoint dirs (only this query writes the
    # fb_/ckpt_fb_ prefixes) without invalidating a lazy frame a caller
    # is still holding (round-10 advisor). The table is one row per
    # event_type, so the localization is a few dozen rows.
    result_df = spark.read.parquet(target).orderBy("event_type")
    rows = result_df.collect()
    out = spark.createDataFrame(rows, result_df.schema).orderBy("event_type")
    import glob as _glob

    for stale in _glob.glob(os.path.join(tmp_root, "fb_*")) + _glob.glob(
        os.path.join(tmp_root, "ckpt_fb_*")
    ):
        shutil.rmtree(stale, ignore_errors=True)
    return out


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 as a true stream: watermarked sliding-window counts (1 h window
    every 15 min). With availableNow over a static file nothing is late,
    so the result equals the batch x_sliding plan — asserted in tests."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:00").alias("win_start"), "n")
    )
    return _run_available_now(agg, "sliding")


@register(
    "x_stream_sliding",
    tags=("EXT", "T2", "T4"),
    bench=False,
    oracle="""
        SELECT strftime(win_start, '%Y-%m-%d %H:%M:00') AS win_start, COUNT(*) AS n
        FROM (
            SELECT ts, date_trunc('minute', ts)
                       - INTERVAL (EXTRACT(minute FROM ts)::INT % 15) MINUTE
                       - INTERVAL (k * 15) MINUTE AS win_start
            FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
        ) t
        GROUP BY 1 ORDER BY win_start
    """,
)
def x_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows executed as a true stream (readStream -> watermark
    -> overlapping window agg -> availableNow), completing the
    true-stream twin set for T1/T2/T3. Nothing is late over a drained
    static source, so the stream equals the batch sliding window and
    shares its epoch-grid oracle (also pinned equal in tests)."""
    return stream_sliding_counts(spark, sf_dir).orderBy("win_start")


@register(
    "x_stream_dedup",
    tags=("EXT", "T5", "T4", "X1"),
    bench=False,
    oracle="""
        SELECT event_type, COUNT(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def x_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (T5/X1): every 10th event is injected
    into the stream TWICE (identical rows — the at-least-once delivery
    shape), then dropDuplicatesWithinWatermark on event_id removes the
    replays before a per-type count. The dedup is load-bearing: without
    it the counts run ~10% high (pinned in tests); with it the result
    equals the plain batch count, so the full DuckDB oracle applies.

    100 TB design: dropDuplicatesWithinWatermark keeps state only for
    the watermark horizon (10 min of event_ids, not the full history) —
    the bounded-state streaming twin of the batch digest dedup
    (operators/dedup.py). State is keyed on event_id, high-cardinality,
    so the state store shards evenly."""
    stream = _events_stream(spark, sf_dir)
    fanout = F.when(
        F.col("event_id") % 10 == 0, F.array(F.lit(1), F.lit(2))
    ).otherwise(F.array(F.lit(1)))
    dup = stream.withColumn("__copy", F.explode(fanout)).drop("__copy")
    deduped = dup.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _run_available_now(agg, "stream_dedup").orderBy("event_type")


@register(
    "x_stream_session",
    tags=("EXT", "T3", "T4"),
    bench=False,
    oracle="""
        WITH flags AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flags
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
)
def x_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (T3) executed as a TRUE stream — readStream ->
    watermark -> session_window gap-merge -> availableNow — completing
    the driver-visible true-stream twin set (tumbling/sliding/session).
    Sessionization is the one window family whose streaming state does
    real work: open sessions must persist across micro-batches until the
    watermark passes their gap, and adjacent windows merge when a
    bridging event arrives. Over a drained static source nothing is
    late, so the merged sessions equal the batch x_session plan and the
    same lag-based DuckDB oracle applies (integer counts + formatted
    timestamps — hash-exact).

    100 TB design: state is keyed (user_id, session), sharded across the
    cluster by user hash; the watermark bounds retained state to open
    sessions only, so steady-state memory tracks active users, not
    history. The oracle's sort-based sessionization is the batch
    equivalent; the streaming form replaces the full-history window sort
    with incremental gap-merge."""
    return stream_session_counts(spark, sf_dir).orderBy("user_id", "session_start")


@register(
    "x_sessionized_bounce",
    tags=("EXT", "T3", "O3", "A1"),
    oracle="""
        WITH flags AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, event_id, event_type,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flags
        ),
        ranked AS (
            SELECT user_id, event_id, event_type, sid,
                   row_number() OVER (PARTITION BY user_id, sid
                                      ORDER BY ts, event_id) AS rn
            FROM sess
        ),
        per_session AS (
            SELECT user_id, sid,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN(CASE WHEN rn = 1 THEN event_type END) AS entry_type
            FROM ranked GROUP BY user_id, sid
        )
        SELECT entry_type,
               COUNT(*) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bounces,
               round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate
        FROM per_session GROUP BY entry_type ORDER BY entry_type
    """,
)
def x_sessionized_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce-rate by session entry type: per-user 30-minute-gap
    sessions, each labeled by its FIRST event's type (the landing-page
    analog), reporting how many sessions of each entry type consist of
    a single event — the engagement metric every clickstream pipeline
    publishes next to x_session's raw session table and
    x_conversion_time's funnel timings.

    Spark side uses the same lag/cumulative-flag segmentation as the
    oracle (x_session pins the session_window operator itself; this
    query needs a per-ROW session id to rank entries, which
    session_window's grouping form does not expose — same 30-minute >=
    gap semantics, asserted equal to x_session's session count in
    tests).

    Determinism: (ts, event_id) is a unique ordering key, so the
    row_number entry pick is exact; bounce_rate is one bigint/bigint
    double division rounded to 6.

    100 TB design: both windows and the session agg share ONE user_id-
    keyed shuffle (Catalyst reuses the partitioning across same-key
    windows); everything after per_session is a partial agg over
    |event_types| rows."""
    from pyspark.sql import Window as W

    events = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        F.lag("ts").over(wo).isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wo))
            >= 1800 * 1_000_000
        ),
        1,
    ).otherwise(0)
    flags = events.withColumn("new_s", new_s)
    sess = flags.select(
        "user_id",
        "event_id",
        "event_type",
        F.sum("new_s").over(wo.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("sid"),
        "ts",
    )
    rn = F.row_number().over(W.partitionBy("user_id", "sid").orderBy("ts", "event_id"))
    per_session = (
        sess.withColumn("rn", rn)
        .groupBy("user_id", "sid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min(F.when(F.col("rn") == 1, F.col("event_type"))).alias("entry_type"),
        )
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("bigint")
    return (
        per_session.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            bounces.alias("n_bounces"),
            F.round(bounces / F.count(F.lit(1)).cast("double"), 6).alias("bounce_rate"),
        )
        .orderBy("entry_type")
    )
