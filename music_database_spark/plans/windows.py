"""Window-function operators (SURVEY.md §2.5 O3-O5, all EXT).

The reference's "top songs per genre / rating trend over time" analyses
(README.md:8) need ranking and analytic windows; these are their
driver-table forms. Window partitions here are per-entity (customer,
brand) — at 100 TB the partition key is high-cardinality so the single
shuffle per window is well-distributed; no window is unpartitioned
(an ORDER BY over the whole table would serialize on one task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..operators.ranking import two_level_rank
from .relational import _t, dsum
from ..sources.loader import scan_wide
from ..session import checkpoint


@register(
    "x_rank_per_group",
    tags=("EXT", "O3"),
    oracle="""
        WITH rev AS (
            SELECT p_brand, p_partkey,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM part JOIN lineitem ON p_partkey = l_partkey
            GROUP BY p_brand, p_partkey
        )
        SELECT p_brand AS brand, p_partkey AS partkey, revenue, rnk
        FROM (SELECT p_brand, p_partkey, revenue,
                     rank() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey ASC) AS rnk
              FROM rev) t
        WHERE rnk <= 3
        ORDER BY brand, rnk, partkey
    """,
)
def x_rank_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ties-aware top-3 parts by revenue within each brand ('top songs per
    genre'). rank() over a deterministic (revenue, partkey) order."""
    part = _t(spark, sf_dir, "part")
    lineitem = _t(spark, sf_dir, "lineitem")
    rev = (
        F.broadcast(part)
        .join(lineitem, part.p_partkey == lineitem.l_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(dsum("l_extendedprice").alias("revenue"))
    )
    w = W.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        rev.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("p_brand").alias("brand"),
            F.col("p_partkey").alias("partkey"),
            "revenue",
            "rnk",
        )
        .orderBy("brand", "rnk", "partkey")
    )


@register(
    "x_running_sum",
    tags=("EXT", "O4"),
    oracle="""
        SELECT o_custkey AS custkey, o_orderkey AS orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   AS running_total
        FROM orders ORDER BY custkey, orderkey
    """,
)
def x_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer cumulative spend in order-date order ('rating trend
    over time per user'). Exact decimal accumulation keeps the running
    values engine-identical."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double").alias("running_total"),
    ).orderBy("custkey", "orderkey")


@register(
    "x_lag_delta",
    tags=("EXT", "O4"),
    oracle="""
        SELECT o_custkey AS custkey, o_orderkey AS orderkey,
               o_totalprice - lag(o_totalprice)
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta
        FROM orders ORDER BY custkey, orderkey
    """,
)
def x_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): change in order value vs the customer's previous order.
    A single double subtraction of identical inputs is bit-deterministic."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("delta"),
    ).orderBy("custkey", "orderkey")


@register(
    "x_window_family",
    tags=("EXT", "O3", "O4", "O5"),
    oracle="""
        SELECT o_custkey AS custkey, o_orderkey AS orderkey,
               first_value(o_orderkey) OVER w AS first_order,
               last_value(o_orderkey) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cdist
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY custkey, orderkey
    """,
)
def x_window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic-window family in one pass: first/last
    value, ntile quartiles, percent_rank, cume_dist per customer order
    history. last_value needs the full-frame spec (the default frame
    stops at CURRENT ROW on both engines). All outputs are exact
    rationals of row counts -> bit-identical doubles."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    ).orderBy("custkey", "orderkey")


@register(
    "x_moving_avg",
    tags=("EXT", "O5"),
    oracle="""
        SELECT user_id, event_id,
               CAST(SUM(CAST(value AS DECIMAL(18,6)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS mavg
        FROM events ORDER BY user_id, event_id
    """,
)
def x_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame spec (ROWS BETWEEN 6 PRECEDING AND CURRENT ROW): 7-event moving
    average of event value per user, time-ordered."""
    events = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, W.currentRow)
    return events.select(
        "user_id",
        "event_id",
        (
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("mavg"),
    ).orderBy("user_id", "event_id")


@register(
    "x_asof_join",
    tags=("EXT", "J8", "O4"),
    oracle="""
        SELECT p.event_id,
               strftime(b.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_error_ts,
               (epoch_us(p.ts) - epoch_us(b.ts)) // 1000000 AS gap_s
        FROM events p
        ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'error') b
          ON p.user_id = b.user_id AND b.ts <= p.ts
        ORDER BY p.event_id
    """,
)
def x_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J8 family): each event matched to the most recent 'error'
    event at-or-before it for the same user ("time since last error").

    Spark has no ASOF JOIN operator, so this is authored as the
    scale-correct union-free form: a RANGE frame window over the event
    stream itself (max error-ts <= current ts per user). One shuffle on
    the high-cardinality user key, no join — the naive formulation
    (theta self-join on ts <= ts, then argmax) is a per-user cross
    product that dies at 100 TB. The RANGE frame (not ROWS) makes the
    semantics exactly "max build ts <= probe ts" under timestamp ties,
    matching DuckDB's native ASOF LEFT JOIN used as the oracle.
    """
    events = _t(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "error", F.unix_micros("ts")).alias("err_us"),
    )
    w = W.partitionBy("user_id").orderBy("ts_us").rangeBetween(W.unboundedPreceding, 0)
    return (
        e.withColumn("last_err_us", F.max("err_us").over(w))
        .select(
            "event_id",
            F.date_format(
                F.timestamp_micros(F.col("last_err_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("last_error_ts"),
            F.expr("(ts_us - last_err_us) div 1000000").alias("gap_s"),
        )
        .orderBy("event_id")
    )


@register(
    "x_time_range_frame",
    tags=("EXT", "O5", "O4"),
    oracle="""
        SELECT user_id, event_id,
               CAST(SUM(CAST(value AS DECIMAL(18,6)))
                    OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS trailing_1h_sum,
               CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS trailing_1h_n
        FROM events ORDER BY user_id, event_id
    """,
)
def x_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame (O5 beyond row frames): each event's
    trailing one-hour value sum and event count per user — frame
    membership decided by the TIMESTAMP delta, not a row count, so
    bursts widen the frame and quiet periods shrink it. Expressed
    through the SQL front door because the DataFrame rangeBetween only
    takes numeric offsets; semantically identical to ordering by
    unix_micros with a 3.6e9 range, which is how x_asof_join's frame is
    authored. Decimal-exact sums; ties impossible (ts is unique per
    user in the driver data, verified by the tumbling/session suite)."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_trf")
    return spark.sql("""
        SELECT user_id, event_id,
               CAST(SUM(CAST(value AS DECIMAL(18,6)))
                    OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS trailing_1h_sum,
               CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS trailing_1h_n
        FROM events_trf ORDER BY user_id, event_id
    """)


@register(
    "x_scd2_history",
    tags=("EXT", "O4", "F7"),
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ),
        chg AS (
            SELECT user_id, event_type, ts,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS valid_to
            FROM ordered
            WHERE prev_type IS NULL OR prev_type <> event_type
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_versions,
               MAX(CASE WHEN valid_to IS NULL THEN event_type END) AS current_type,
               CAST(MAX(CASE WHEN valid_to IS NOT NULL
                             THEN epoch_us(valid_to) - epoch_us(ts) END) AS BIGINT)
                   AS longest_closed_us,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_from
        FROM chg GROUP BY user_id ORDER BY user_id
    """,
)
def x_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: each user's event_type
    treated as a versioned attribute — collapse the event stream to its
    CHANGE rows (lag filter), then effective-date each version with
    valid_from = its ts and valid_to = the next change's ts (lead over
    the filtered rows; NULL = current). Summarized per user (version
    count, current value, longest closed version in us, first effective
    ts) so the output hash pins every version boundary without shipping
    the full history table.

    The two-window pipeline reuses ONE (user_id, ts, event_id) sort:
    Catalyst plans lag and lead over the same partitioning as a single
    exchange + sort, then the final groupBy(user_id) rides the same
    partitioning — one shuffle total for the whole dimension build. At
    100 TB user_id is high-cardinality so the shuffle is well spread;
    state per key is one version row, not the event history. Timestamps
    compare in integer microseconds (the loader's truncation contract,
    sources/loader.py). Reference parity: the reference's MySQL schema
    versions nothing; this is the warehouse-side surface its
    'users/history' tables imply (SURVEY.md §2 O4/F7)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = (
        ev.select("user_id", "event_type", "ts", "event_id", prev.alias("prev_type"))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .withColumn("valid_to", F.lead("ts").over(w))
    )
    return (
        chg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_versions"),
            F.max(
                F.when(F.col("valid_to").isNull(), F.col("event_type"))
            ).alias("current_type"),
            F.max(
                F.when(
                    F.col("valid_to").isNotNull(),
                    F.unix_micros("valid_to") - F.unix_micros("ts"),
                )
            )
            .cast("bigint")
            .alias("longest_closed_us"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_from"),
        )
        .orderBy("user_id")
    )


N_BUSY_WINDOWS = 20  # interval overlap: busiest hours promoted to windows
WIN_PRE_US = 900_000_000  # window reach-back: 15 min before the hour
WIN_POST_US = 4_500_000_000  # window reach-forward: 75 min after the hour start


@register(
    "x_interval_overlap",
    tags=("EXT", "J8", "A1"),
    oracle=f"""
        WITH hours AS (
            SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n FROM events GROUP BY h
        ),
        windows AS (
            SELECT h, epoch_us(h) - {WIN_PRE_US} AS w_start_us,
                   epoch_us(h) + {WIN_POST_US} AS w_end_us
            FROM (SELECT h, row_number() OVER (ORDER BY n DESC, h ASC) AS rnk
                  FROM hours) t
            WHERE rnk <= {N_BUSY_WINDOWS}
        ),
        spans AS (
            SELECT user_id, epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
            FROM events GROUP BY user_id, date_trunc('day', ts)
            HAVING epoch_us(MAX(ts)) > epoch_us(MIN(ts))
        )
        SELECT strftime(w.h, '%Y-%m-%d %H:%M:%S') AS window_hour,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users,
               CAST(SUM(LEAST(s.e_us, w.w_end_us) - GREATEST(s.s_us, w.w_start_us))
                    AS BIGINT) AS total_overlap_us
        FROM windows w JOIN spans s
          ON s.s_us < w.w_end_us AND w.w_start_us < s.e_us
        GROUP BY w.h ORDER BY window_hour
    """,
)
def x_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-x-interval overlap join (J8's general form — both sides
    are ranges, unlike the point-in-range j_event_window / x_asof_join):
    per-user daily activity spans [first event, last event] overlapped
    against the {N_BUSY_WINDOWS} busiest hours widened to
    [-15 min, +75 min) incident windows, reporting per window how many
    user-day spans intersect it and the exact total overlap duration.
    Overlap predicate s.start < w.end AND w.start < s.end; duration
    least(ends) - greatest(starts), all in integer microseconds.

    Plan shape: the window side is tiny by construction (top-N of a
    groupBy), so Spark broadcasts it and the inequality join runs as
    BroadcastNestedLoopJoin over the span side — at 100 TB that is a
    map-only pass over the spans, no shuffle of the big side, and the
    classic fallback when neither side has an equi-key. A billion-row
    span table against 20 windows stays embarrassingly parallel; if the
    window side ever grew, the production path is binning both sides to
    a shared time bucket and equi-joining on the bucket (the technique
    x_dedup_* uses for similarity candidates)."""
    ev = _t(spark, sf_dir, "events")
    hours = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # Top-N over ~720 candidate hours: the unpartitioned row_number is a
    # single-task sort of a pre-aggregated frame, not of the events table.
    wrnk = W.orderBy(F.desc("n"), F.asc("h"))
    windows = (
        hours.withColumn("rnk", F.row_number().over(wrnk))
        .filter(F.col("rnk") <= N_BUSY_WINDOWS)
        .select(
            "h",
            (F.unix_micros("h") - F.lit(WIN_PRE_US)).alias("w_start_us"),
            (F.unix_micros("h") + F.lit(WIN_POST_US)).alias("w_end_us"),
        )
    )
    spans = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.unix_micros(F.min("ts")).alias("s_us"),
            F.unix_micros(F.max("ts")).alias("e_us"),
        )
        .filter(F.col("e_us") > F.col("s_us"))
    )
    joined = F.broadcast(windows).join(
        spans,
        (F.col("s_us") < F.col("w_end_us")) & (F.col("w_start_us") < F.col("e_us")),
    )
    return (
        joined.groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.sum(
                F.least("e_us", "w_end_us") - F.greatest("s_us", "w_start_us")
            )
            .cast("bigint")
            .alias("total_overlap_us"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("window_hour"),
            "n_spans",
            "n_users",
            "total_overlap_us",
        )
        .orderBy("window_hour")
    )


@register(
    "x_interpolate",
    tags=("EXT", "O4", "O5", "F1"),
    oracle="""
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events WHERE user_id <= 50
            GROUP BY user_id, day
        ),
        spine AS (
            SELECT u.user_id, d.day
            FROM (SELECT DISTINCT user_id FROM daily) u
            CROSS JOIN (
                SELECT unnest(generate_series(
                    (SELECT MIN(day) FROM daily),
                    (SELECT MAX(day) FROM daily),
                    INTERVAL 1 DAY)) AS day
            ) d
        ),
        joined AS (
            SELECT s.user_id, s.day, daily.n
            FROM spine s LEFT JOIN daily
                 ON daily.user_id = s.user_id AND daily.day = s.day
        ),
        bounds AS (
            SELECT user_id, day, n,
                   MAX(CASE WHEN n IS NOT NULL THEN day END) OVER w_prev AS prev_day,
                   MAX(CASE WHEN n IS NOT NULL THEN day END) OVER w_next AS next_day
            FROM joined
            WINDOW w_prev AS (PARTITION BY user_id ORDER BY day
                              ROWS UNBOUNDED PRECEDING),
                   w_next AS (PARTITION BY user_id ORDER BY day DESC
                              ROWS UNBOUNDED PRECEDING)
        ),
        vals AS (
            SELECT b.user_id, b.day, b.n, b.prev_day, b.next_day,
                   pv.n AS prev_n, nv.n AS next_n
            FROM bounds b
            LEFT JOIN daily pv ON pv.user_id = b.user_id AND pv.day = b.prev_day
            LEFT JOIN daily nv ON nv.user_id = b.user_id AND nv.day = b.next_day
        )
        SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
               CASE
                   WHEN n IS NOT NULL THEN CAST(n * 1000 AS BIGINT)
                   WHEN prev_n IS NULL OR next_n IS NULL THEN NULL
                   ELSE CAST(prev_n * 1000
                        + ((next_n - prev_n) * 1000
                           * date_diff('day', prev_day, day))
                          // date_diff('day', prev_day, next_day) AS BIGINT)
               END AS n_milli
        FROM vals
        ORDER BY user_id, day
    """,
)
def x_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap interpolation: each user's daily event count on a
    complete calendar spine, with missing days LINEARLY interpolated
    between the nearest observed neighbors (boundary gaps stay NULL) —
    the resampling step a feature pipeline runs before modeling.
    Emitted in integer milli-units with integer `div`, so the
    interpolation arithmetic is exact and engine-portable (the
    x_pagerank micro-unit recipe); interior points use the standard
    (prev + (next-prev) * gap_pos / gap_len) form.

    Plan shape: the spine is distinct-users x calendar crossJoin (tiny
    dim side), one LEFT join against observed days, then two running-MAX
    windows (forward and reverse) locate each gap's bracketing
    observations without self-joins — all on the user_id shuffle key,
    so the whole query is ONE exchange plus broadcast joins of the
    day-bounds lookups. At 100 TB the spine partitions by user exactly
    like the observations; nothing grows super-linearly. Reference
    parity: no time-series surface in the reference (SURVEY.md §2.5
    O4/O5 EXT)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    users = daily.select("user_id").distinct()
    cal = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"))
    spine = users.crossJoin(F.broadcast(cal))
    joined = spine.join(daily, ["user_id", "day"], "left")
    w_prev = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    w_next = W.partitionBy("user_id").orderBy(F.desc("day")).rowsBetween(
        W.unboundedPreceding, 0
    )
    obs_day = F.when(F.col("n").isNotNull(), F.col("day"))
    bounds = joined.select(
        "user_id",
        "day",
        "n",
        F.max(obs_day).over(w_prev).alias("prev_day"),
        F.max(obs_day).over(w_next).alias("next_day"),
    )
    pv = daily.select(
        F.col("user_id").alias("user_id"),
        F.col("day").alias("prev_day"),
        F.col("n").alias("prev_n"),
    )
    nv = daily.select(
        F.col("user_id").alias("user_id"),
        F.col("day").alias("next_day"),
        F.col("n").alias("next_n"),
    )
    vals = bounds.join(pv, ["user_id", "prev_day"], "left").join(
        nv, ["user_id", "next_day"], "left"
    )
    interp = F.expr(
        "CAST(prev_n * 1000 + ((next_n - prev_n) * 1000"
        " * datediff(day, prev_day)) div datediff(next_day, prev_day) AS BIGINT)"
    )
    return (
        vals.select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.when(F.col("n").isNotNull(), (F.col("n") * 1000).cast("bigint"))
            .when(F.col("prev_n").isNull() | F.col("next_n").isNull(), F.lit(None))
            .otherwise(interp)
            .alias("n_milli"),
        )
        .orderBy("user_id", "day")
    )


@register(
    "x_window_ignore_nulls",
    tags=("EXT", "O4", "O5"),
    oracle="""
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events WHERE user_id <= 50
            GROUP BY user_id, day
        ),
        spine AS (
            SELECT u.user_id, d.day
            FROM (SELECT DISTINCT user_id FROM daily) u
            CROSS JOIN (
                SELECT unnest(generate_series(
                    (SELECT MIN(day) FROM daily),
                    (SELECT MAX(day) FROM daily),
                    INTERVAL 1 DAY)) AS day
            ) d
        ),
        joined AS (
            SELECT s.user_id, s.day, daily.n
            FROM spine s LEFT JOIN daily
                 ON daily.user_id = s.user_id AND daily.day = s.day
        )
        SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n,
               last_value(n IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS locf,
               first_value(n IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS first_obs,
               nth_value(n, 2 IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS second_obs
        FROM joined
        ORDER BY user_id, day
    """,
)
def x_window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation (SQL:2011): LOCF forward-fill via
    last_value ignorenulls over a running frame — the step-function
    fill to x_interpolate's linear fill — plus first_value/nth_value
    with null skipping over the full-partition frame. All integer
    counts on the same sparse per-user calendar spine, so the oracle is
    exact.

    100 TB design: same single user-keyed exchange as every window in
    this module; the spine join is a broadcast of the calendar dim.
    LOCF is THE standard sensor/telemetry densification and pairs with
    as-of joins (x_asof_join) — this registers the windowed form.
    Reference parity: no window surface in the reference (SURVEY.md
    §2.5 O4/O5 EXT)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    users = daily.select("user_id").distinct()
    cal = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    joined = users.crossJoin(F.broadcast(cal)).join(
        daily, ["user_id", "day"], "left"
    )
    w_run = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    w_full = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return (
        joined.select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            F.last("n", ignorenulls=True).over(w_run).alias("locf"),
            F.first("n", ignorenulls=True).over(w_full).alias("first_obs"),
            F.nth_value("n", 2, ignoreNulls=True).over(w_full).alias("second_obs"),
        )
        .orderBy("user_id", "day")
    )


@register(
    "x_resample_ohlc",
    tags=("EXT", "O4", "A4", "A7", "F1"),
    oracle="""
        WITH pts AS (
            SELECT user_id, date_trunc('day', ts) AS day, ts, event_id, value
            FROM events WHERE value IS NOT NULL
        ),
        ranked AS (
            SELECT user_id, day, value,
                   row_number() OVER (PARTITION BY user_id, day
                                      ORDER BY ts, event_id) AS rn_open,
                   row_number() OVER (PARTITION BY user_id, day
                                      ORDER BY ts DESC, event_id DESC) AS rn_close
            FROM pts
        )
        SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_ticks,
               CAST(MIN(CASE WHEN rn_open = 1 THEN CAST(value AS DECIMAL(18,6))
                        END) AS DOUBLE) AS open,
               CAST(MAX(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS high,
               CAST(MIN(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS low,
               CAST(MIN(CASE WHEN rn_close = 1 THEN CAST(value AS DECIMAL(18,6))
                        END) AS DOUBLE) AS close
        FROM ranked
        GROUP BY user_id, day
        ORDER BY user_id, day
    """,
)
def x_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (the canonical time-series resample): per
    (user, day), the first/highest/lowest/last event value, with
    (ts, event_id) total-order tie-breaks so "first" and "last" are
    well-defined under duplicate timestamps. MIN/MAX are exact over
    DECIMAL-cast values; open/close select the rank-1 row of each
    direction's ordering — no floats are accumulated, so the oracle is
    exact.

    Plan shape: two ranking windows + one groupBy, all partitioned on
    (user, day) — a single exchange; at 100 TB the window key is the
    resample bucket itself so parallelism scales with users x days.
    min_by/max_by would express open/close in one aggregation but
    break ties arbitrarily; the rank-1 formulation pins determinism
    (SURVEY.md §7.4.5). Reference parity: no time-series surface in
    the reference (SURVEY.md §2.5 O4 EXT)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pts = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    w_open = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    w_close = W.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    dec = F.col("value").cast("decimal(18,6)")
    ranked = pts.select(
        "user_id",
        "day",
        "value",
        F.row_number().over(w_open).alias("rn_open"),
        F.row_number().over(w_close).alias("rn_close"),
    )
    return (
        ranked.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
            F.min(F.when(F.col("rn_open") == 1, dec)).cast("double").alias("open"),
            F.max(dec).cast("double").alias("high"),
            F.min(dec).cast("double").alias("low"),
            F.min(F.when(F.col("rn_close") == 1, dec)).cast("double").alias("close"),
        )
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_ticks",
            "open",
            "high",
            "low",
            "close",
        )
        .orderBy("user_id", "day")
    )


NEAREST_TOL_S = 3600  # nearest-asof tolerance (seconds each way)


@register(
    "x_asof_nearest",
    tags=("EXT", "J8", "O3"),
    oracle=f"""
        WITH purchases AS (
            SELECT user_id, ts, event_id FROM events
            WHERE event_type = 'purchase'
        ),
        errors AS (
            SELECT user_id, ts, event_id FROM events
            WHERE event_type = 'error'
        ),
        cand AS (
            SELECT p.event_id,
                   e.event_id AS err_event_id,
                   abs(epoch_us(p.ts) - epoch_us(e.ts)) AS gap_us,
                   CASE WHEN e.ts <= p.ts THEN 0 ELSE 1 END AS fwd,
                   row_number() OVER (
                       PARTITION BY p.event_id
                       ORDER BY abs(epoch_us(p.ts) - epoch_us(e.ts)),
                                CASE WHEN e.ts <= p.ts THEN 0 ELSE 1 END,
                                e.event_id) AS rnk
            FROM purchases p JOIN errors e
              ON e.user_id = p.user_id
             AND e.ts >= p.ts - INTERVAL {NEAREST_TOL_S} SECOND
             AND e.ts <= p.ts + INTERVAL {NEAREST_TOL_S} SECOND
        )
        SELECT event_id, err_event_id, gap_us // 1000 AS gap_ms
        FROM cand WHERE rnk = 1
        ORDER BY event_id
    """,
)
def x_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (pandas merge_asof
    direction='nearest', public API shape): each purchase matched to
    the temporally closest error event of the same user within a
    ±NEAREST_TOL_S tolerance, ties broken backward-first then by event
    id — the lookup a diagnostics pipeline runs when the cause may be
    logged slightly after the symptom. Unlike the backward-only
    x_asof_join (range-frame window, no join), nearest-direction needs
    both sides of the probe, so it is authored as the bounded range
    join + per-probe rank-1: candidates are limited to the tolerance
    window, which is what keeps the join linear.

    100 TB design: the equi-key (user_id) carries the shuffle; the
    tolerance bound makes per-user candidate fan-out O(events within
    ±tol), the same bucketing argument as j_event_window — production
    adds coarse time-bucket keys (floor(ts/tol)) to prune before the
    range predicate, an optimization that changes no results. Integer
    microsecond gaps — exact."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        F.col("event_id").alias("err_event_id"),
    )
    tol = F.expr(f"INTERVAL {NEAREST_TOL_S} SECOND")
    cand = purchases.join(
        errors,
        (F.col("e_user") == F.col("user_id"))
        & (F.col("e_ts") >= F.col("ts") - tol)
        & (F.col("e_ts") <= F.col("ts") + tol),
    )
    gap_us = F.abs(
        F.unix_micros("ts") - F.unix_micros("e_ts")
    )
    fwd = F.when(F.col("e_ts") <= F.col("ts"), F.lit(0)).otherwise(F.lit(1))
    w = W.partitionBy("event_id").orderBy(
        gap_us.asc(), fwd.asc(), F.col("err_event_id").asc()
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "event_id",
            "err_event_id",
            F.expr(
                "abs(unix_micros(ts) - unix_micros(e_ts)) div 1000"
            ).alias("gap_ms"),
        )
        .orderBy("event_id")
    )


# EWMA: truncated exponentially-weighted moving average. Geometric
# weights with ratio alpha=0.7 kept EXACT as integers: w_j =
# 7^j * 10^(7-j) (proportional to 0.7^j), so the horizontal weighted
# sum is pure int64 arithmetic and the single final division is one
# IEEE op identical on both engines.
EWMA_LAGS = 8
EWMA_W: tuple[int, ...] = tuple((7**j) * (10 ** (EWMA_LAGS - 1 - j)) for j in range(EWMA_LAGS))


def _ewma_oracle() -> str:
    lag_cols = ",\n                   ".join(
        f"lag(cents, {j}) OVER (ORDER BY day) AS l{j}" for j in range(1, EWMA_LAGS)
    )
    num = " + ".join(
        [f"cents * {EWMA_W[0]}"]
        + [f"COALESCE(l{j}, 0) * {EWMA_W[j]}" for j in range(1, EWMA_LAGS)]
    )
    den = " + ".join(
        [f"{EWMA_W[0]}"]
        + [
            f"CASE WHEN l{j} IS NULL THEN 0 ELSE {EWMA_W[j]} END"
            for j in range(1, EWMA_LAGS)
        ]
    )
    return f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        lagged AS (
            SELECT day, cents,
                   {lag_cols}
            FROM daily
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, cents AS daily_cents,
               round(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) / 100.0, 6)
                   AS ewma
        FROM lagged ORDER BY day
    """


@register("x_ewma_smooth", tags=("EXT", "O4", "O5", "F4"), oracle=_ewma_oracle())
def x_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.7 decay,
    truncated at EWMA_LAGS terms) of daily revenue — the smoothing pass
    dashboards and drift monitors run before eyeballing a noisy series.
    The geometric weights are integer-exact (w_j = 7^j * 10^(7-j), i.e.
    0.7^j scaled by 10^7), so each row's weighted numerator/denominator
    is pure int64 arithmetic over the LAG values and the only float op
    is one final division + round — bit-identical across engines, which
    is what makes an inherently order-dependent recurrence hash-
    checkable (full-history EWMA is a left fold; truncating at 8 terms
    bounds the weight tail below 0.7^8 ~ 5.7%, standard practice).

    100 TB design: partial aggregation collapses the fact stream to
    |days| rows before the window; the lag window then orders a
    thousands-row series (calendar grain) — per-entity smoothing would
    PARTITION BY entity and distribute. int64 headroom: daily cents up
    to ~9*10^11 times the 10^7 weight scale stays under 2^63.

    Reference parity: the reference's rating-trend-over-time analysis
    (README.md:8) is this shape; SURVEY.md §2.5 O4/O5."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("bigint")
        .alias("cents")
    )
    w = W.orderBy("day")
    lagged = daily.select(
        "day",
        "cents",
        *[F.lag("cents", j).over(w).alias(f"l{j}") for j in range(1, EWMA_LAGS)],
    )
    num = F.col("cents") * EWMA_W[0]
    den = F.lit(EWMA_W[0])
    for j in range(1, EWMA_LAGS):
        num = num + F.coalesce(F.col(f"l{j}"), F.lit(0)) * EWMA_W[j]
        den = den + F.when(F.col(f"l{j}").isNull(), 0).otherwise(EWMA_W[j])
    return lagged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("cents").alias("daily_cents"),
        F.round(num.cast("double") / den.cast("double") / 100.0, 6).alias("ewma"),
    ).orderBy("day")


ACF_LAGS: tuple[int, ...] = (1, 7)  # autocorrelation lags (day, week)


def _acf_oracle() -> str:
    leads = ",\n                   ".join(
        f"lead(a, {k}) OVER (ORDER BY day) AS a{k}" for k in ACF_LAGS
    )
    nums = ",\n                   ".join(
        f"CAST(SUM(a * a{k}) AS HUGEINT) AS num{k}" for k in ACF_LAGS
    )
    outs = " UNION ALL ".join(
        f"SELECT {k} AS lag, round(CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE), 6)"
        f" AS acf FROM agg"
        for k in ACF_LAGS
    )
    return f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        tot AS (
            SELECT CAST(SUM(cents) AS BIGINT) AS sx,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM daily
        ),
        centered AS (
            SELECT day, CAST(n * cents - sx AS HUGEINT) AS a
            FROM daily, tot
        ),
        lagged AS (
            SELECT day, a,
                   {leads}
            FROM centered
        ),
        agg AS (
            SELECT {nums},
                   CAST(SUM(a * a) AS HUGEINT) AS den
            FROM lagged
        )
        SELECT lag, acf FROM ({outs}) u ORDER BY lag
    """


@register("x_acf", tags=("EXT", "O4", "A7", "F4"), oracle=_acf_oracle())
def x_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (ACF at lags {day, week}) of the daily
    revenue series — the seasonality probe run before choosing a
    rollup grain or a drift-monitor window. Mean-centering is cleared
    of division by scaling through n (a_t = n*x_t - Sx, an exact
    integer), so numerator and denominator are exact 128-bit integer
    sums (Spark DECIMAL(38,0) partials merge associatively; DuckDB
    HUGEINT) and the only float work is one division + round per lag —
    the statistic itself hash-matches.

    100 TB design: the fact scan partial-aggregates to |days| rows
    before any window; the lead window orders the small daily series
    (unpartitioned is fine at calendar grain — per-store/per-entity
    ACF adds PARTITION BY and distributes). The centered products
    stay within decimal(38) for ~10^4 days of ~10^12-cent volume.

    Reference parity: rating-trend analysis (README.md:8) is the
    closest reference surface; SURVEY.md §2.5 O4 EXT."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("bigint")
        .alias("cents")
    )
    tot = daily.agg(
        F.sum("cents").cast("bigint").alias("sx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    centered = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        (F.col("n") * F.col("cents") - F.col("sx")).cast("decimal(38,0)").alias("a"),
    )
    w = W.orderBy("day")
    lagged = centered.select(
        "a", *[F.lead("a", k).over(w).alias(f"a{k}") for k in ACF_LAGS]
    )
    agg = lagged.agg(
        *[
            F.sum(F.col("a") * F.col(f"a{k}")).cast("decimal(38,0)").alias(f"num{k}")
            for k in ACF_LAGS
        ],
        F.sum(F.col("a") * F.col("a")).cast("decimal(38,0)").alias("den"),
    )
    out = None
    for k in ACF_LAGS:
        row = agg.select(
            F.lit(k).cast("int").alias("lag"),
            F.round(
                F.col(f"num{k}").cast("double") / F.col("den").cast("double"), 6
            ).alias("acf"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("lag")


@register(
    "x_seasonal_dow",
    tags=("EXT", "A1", "O4", "F4"),
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        tot AS (
            SELECT CAST(SUM(cents) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS nd
            FROM daily
        ),
        dow AS (
            SELECT CAST(dayofweek(day) AS INTEGER) AS dow,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM daily GROUP BY 1
        )
        SELECT dow, n_days, sum_cents,
               round(CAST(sum_cents AS DOUBLE)
                     / CAST(n_days AS DOUBLE) / 100.0, 6) AS avg_daily,
               round(CAST(sum_cents AS HUGEINT) * nd
                     / (CAST(n_days AS HUGEINT) * t), 6) AS seasonal_ratio
        FROM dow, tot ORDER BY dow
    """,
)
def x_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices of the daily revenue series:
    per-weekday average daily revenue and its ratio to the overall
    daily average (the multiplicative seasonal component of a classical
    decomposition — the grain-picking companion to x_acf's lag-7 probe
    and x_ewma_smooth's trend). Engine-aligned weekday numbering
    (Sunday=0): Spark's dayofweek is 1-based, DuckDB's 0-based, so the
    Spark side subtracts 1 — pinned by the weekday name in tests. The
    ratio is an exact 128-bit rational (sum_dow·n_days_total)/
    (n_days_dow·total) under one division; no float accumulates.

    100 TB design: partial agg to |days| rows, then a 7-group rollup
    and a 1-row broadcast total. Per-entity seasonality adds the entity
    to both group keys and distributes.

    Reference parity: rating-trend-over-time (README.md:8);
    SURVEY.md §2 EXT time-series family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("bigint")
        .alias("cents")
    )
    tot = daily.agg(
        F.sum("cents").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    dow = daily.groupBy((F.dayofweek("day") - 1).cast("int").alias("dow")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    return (
        dow.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_days",
            "sum_cents",
            F.round(
                F.col("sum_cents").cast("double")
                / F.col("n_days").cast("double")
                / 100.0,
                6,
            ).alias("avg_daily"),
            F.round(
                (F.col("sum_cents").cast("decimal(38,0)") * F.col("nd")).cast("double")
                / (F.col("n_days").cast("decimal(38,0)") * F.col("t")).cast("double"),
                6,
            ).alias("seasonal_ratio"),
        )
        .orderBy("dow")
    )


@register(
    "x_twap",
    tags=("EXT", "O4", "A7", "F4"),
    oracle="""
        WITH seq AS (
            SELECT event_type, value,
                   epoch_us(ts) AS t,
                   lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                            ORDER BY ts, event_id) AS t_next
            FROM events WHERE value IS NOT NULL
        ),
        seg AS (
            SELECT event_type,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * (t_next - t)
                                 AS DECIMAL(38,6)) ) AS DECIMAL(38,6)) AS wsum,
                   CAST(SUM(t_next - t) AS BIGINT) AS tspan,
                   CAST(COUNT(*) AS BIGINT) AS n_segments
            FROM seq WHERE t_next IS NOT NULL GROUP BY event_type
        )
        SELECT event_type, n_segments, tspan AS span_us,
               round(CAST(wsum AS DOUBLE) / CAST(tspan AS DOUBLE), 6) AS twap
        FROM seg ORDER BY event_type
    """,
)
def x_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (the TWAP/sensor
    mean): each observation weighted by how long it was current
    (lead-timestamp gap), so irregular sampling doesn't bias the mean
    toward chatty periods — the right mean for sparse telemetry, and
    the value-weighting shape behind time-weighted SLO/uptime math.
    Weights are exact integer microsecond gaps; value x gap products
    accumulate in DECIMAL(38,6) (order-independent exact), one
    division at the end.

    100 TB design: ONE shuffle on the (high-cardinality in production)
    partition key for the lead window, then a partial-aggregable
    groupBy; no global sort. The last observation per key carries no
    weight (no successor) — the standard left-closed convention,
    explicit in both engines via the t_next IS NOT NULL filter.

    Reference parity: AVG-family analyses (Queries:44-50) made
    time-aware; SURVEY.md §2 EXT time-series family."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    wlead = W.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(wlead).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    seg = seq.groupBy("event_type").agg(
        F.sum(
            (F.col("value").cast("decimal(18,6)") * (F.col("t_next") - F.col("t"))).cast(
                "decimal(38,6)"
            )
        )
        .cast("decimal(38,6)")
        .alias("wsum"),
        F.sum(F.col("t_next") - F.col("t")).cast("bigint").alias("tspan"),
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
    )
    return seg.select(
        "event_type",
        "n_segments",
        F.col("tspan").alias("span_us"),
        F.round(F.col("wsum").cast("double") / F.col("tspan").cast("double"), 6).alias(
            "twap"
        ),
    ).orderBy("event_type")


ROLL_SLOPE_DAYS = 30  # trailing regression window (rows = observed days)


@register(
    "x_rolling_slope",
    tags=("EXT", "O4", "O5", "F4"),
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        idx AS (
            SELECT day, cents,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
            FROM daily
        ),
        win AS (
            SELECT day, cents,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n,
                   CAST(SUM(i) OVER w AS BIGINT) AS sx,
                   CAST(SUM(cents) OVER w AS BIGINT) AS sy,
                   CAST(SUM(CAST(i AS HUGEINT) * cents) OVER w AS HUGEINT) AS sxy,
                   CAST(SUM(i * i) OVER w AS BIGINT) AS sxx
            FROM idx
            WINDOW w AS (ORDER BY day
                         ROWS BETWEEN {ROLL_SLOPE_DAYS - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, cents AS daily_cents,
               round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6)
                   AS slope_per_day
        FROM win WHERE n >= {ROLL_SLOPE_DAYS}
        ORDER BY day
    """,
)
def x_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling least-squares trend: the OLS slope of daily revenue over
    a trailing {ROLL_SLOPE_DAYS}-observation window, in dollars/day —
    the trend-detection monitor that turns "is ingest volume drifting"
    into a signed rate (x_anomaly_zscore flags days, x_cusum_changepoint
    localizes one shift, this tracks the continuous local trend). Day
    index i (dense row_number) keeps x exactly integer, so every moment
    (Σx, Σy, Σxy, Σx²) is an exact integer window sum (HUGEINT /
    DECIMAL(38,0) for the products) and the slope is one fixed division
    tree per row — the whole trend series hash-matches.

    100 TB design: partial agg to |days| rows before the windows; the
    trailing frames then slide over the calendar-grain series (same
    shape as x_ewma_smooth; per-entity trends add PARTITION BY).

    Reference parity: rating-trend-over-time (README.md:8) as a
    quantified rate; SURVEY.md §2 EXT time-series family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("bigint")
        .alias("cents")
    )
    idx = daily.select(
        "day", "cents", F.row_number().over(W.orderBy("day")).cast("bigint").alias("i")
    )
    w = W.orderBy("day").rowsBetween(-(ROLL_SLOPE_DAYS - 1), W.currentRow)
    win = idx.select(
        "day",
        "cents",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("i").over(w).cast("bigint").alias("sx"),
        F.sum("cents").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents"))
        .over(w)
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("i") * F.col("i")).over(w).cast("bigint").alias("sxx"),
    ).filter(F.col("n") >= ROLL_SLOPE_DAYS)
    num = (F.col("n") * F.col("sxy") - F.col("sx").cast("decimal(38,0)") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return win.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("cents").alias("daily_cents"),
        F.round(num / den / 100.0, 6).alias("slope_per_day"),
    ).orderBy("day")


TS_EPOCH = "1992-01-01"  # fixed x-origin for the Theil-Sen day index
TS_WINDOW_DAYS = 365  # trailing calendar window the trend is fit over


@register(
    "x_theilsen_slope",
    tags=("EXT", "O4", "F4", "J9"),
    oracle=f"""
        WITH daily0 AS (
            SELECT CAST(o_orderdate AS DATE) - DATE '{TS_EPOCH}' AS x,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        daily AS (
            SELECT x, cents FROM daily0
            WHERE x > (SELECT MAX(x) FROM daily0) - {TS_WINDOW_DAYS}
        ),
        slopes AS (
            SELECT CAST(b.cents - a.cents AS DOUBLE) / (b.x - a.x) AS s,
                   a.x AS i, b.x AS j
            FROM daily a JOIN daily b ON a.x < b.x
        ),
        ranked AS (
            SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s, i, j) AS BIGINT) AS rn,
                   CAST(COUNT(*) OVER () AS BIGINT) AS cnt
            FROM slopes
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
               MAX(cnt) AS n_pairs,
               round(MAX(CASE WHEN rn = CAST(ceil(cnt * 0.25) AS BIGINT)
                              THEN s END) / 100.0, 6) AS slope_q25,
               round(MAX(CASE WHEN rn = CAST(ceil(cnt * 0.50) AS BIGINT)
                              THEN s END) / 100.0, 6) AS slope_median,
               round(MAX(CASE WHEN rn = CAST(ceil(cnt * 0.75) AS BIGINT)
                              THEN s END) / 100.0, 6) AS slope_q75
        FROM ranked
    """,
)
def x_theilsen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the median (and quartile band) of the
    pairwise slopes of daily revenue over the trailing {TS_WINDOW_DAYS}
    observed days, in dollars/day — the outlier-proof companion to
    x_rolling_slope's OLS (a single bulk-load day drags OLS, but moves
    the slope median not at all; the quartile band doubles as a
    distribution-free trend CI). Breakdown point 29.3% vs OLS's 0%.

    Determinism: x is the exact day offset from {TS_EPOCH} and y the
    exact integer cents, so each pairwise slope is ONE IEEE division of
    exact integers — bit-identical across engines — and the quantiles
    are explicit ceil(q*n) row_number picks under the unique (s, i, j)
    order (never the engines' divergent percentile builtins).

    100 TB design: the fact scan partial-aggregates to calendar grain
    BEFORE the O(W^2) pair join, so the quadratic is bounded by the
    trend window ({TS_WINDOW_DAYS} days -> 66k slope pairs, constant in
    row count; the self-join broadcasts the daily frame). The quantile
    picks use exact two-level rank selection (operators/ranking.py
    two_level_rank: range-bucket on the full unique key, cum-sum the
    tiny per-bucket counts into offsets, rank only WITHIN buckets) — so
    no stage ever globally sorts the pair frame in one partition.
    Per-entity Theil-Sen adds PARTITION BY with the same
    per-entity bound; unwindowed series past ~100k points switch to the
    Siegel repeated-median or sampled-pairs variant, same plan shape.

    Reference parity: rating-trend-over-time (README.md:8) made robust;
    SURVEY.md §2 EXT time-series family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    daily0 = orders.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit(TS_EPOCH).cast("date"))
        .cast("bigint")
        .alias("x")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("bigint")
        .alias("cents")
    )
    xmax = daily0.agg(F.max("x").alias("xmax"))
    daily = checkpoint(
        daily0.crossJoin(F.broadcast(xmax))
        .filter(F.col("x") > F.col("xmax") - TS_WINDOW_DAYS)
        .select("x", "cents"),
        eager=True,
    )
    a = daily.select(F.col("x").alias("i"), F.col("cents").alias("ya"))
    b = daily.select(F.col("x").alias("j"), F.col("cents").alias("yb"))
    slopes = (
        a.repartition(32, "i")
        .join(F.broadcast(b), F.col("i") < F.col("j"))
        .select(
            ((F.col("yb") - F.col("ya")).cast("double") / (F.col("j") - F.col("i"))).alias("s"),
            "i",
            "j",
        )
    )
    # Exact rank-selection WITHOUT a global single-partition sort: the
    # shared two-level ranking (operators/ranking.py two_level_rank —
    # range-bucket on the full unique (s, i, j) key, cum-sum the tiny
    # per-bucket counts into offsets, rank only WITHIN buckets); the
    # composite key keeps a heavily tied slope distribution spread
    # across buckets (round-11 skew hardening). daily is an eagerly-
    # materialized checkpoint of <= TS_WINDOW_DAYS rows, so counting IT
    # is a 1-task job; since round 14 the helper has no count job at all
    # (self-bounding boundary sample), so the count below only feeds the
    # n_days output literal.
    n_days_local = daily.count()
    ranked = two_level_rank(
        slopes,
        ["s", "i", "j"],
        total_col="cnt",
    ).select("s", "cnt", "rn")
    pick = lambda q: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.col("cnt") * q).cast("bigint"), F.col("s"))
    )
    is_target = None
    for q in (0.25, 0.50, 0.75):
        c = F.col("rn") == F.ceil(F.col("cnt") * q).cast("bigint")
        is_target = c if is_target is None else (is_target | c)
    return (
        ranked.filter(is_target)
        .agg(
            F.max("cnt").alias("n_pairs"),
            F.round(pick(0.25) / 100.0, 6).alias("slope_q25"),
            F.round(pick(0.50) / 100.0, 6).alias("slope_median"),
            F.round(pick(0.75) / 100.0, 6).alias("slope_q75"),
        )
        # n_days as a plan literal: daily was counted above (driver-side,
        # 1-task job over the eager checkpoint) — no broadcast-build job
        # for a 1-row frame
        .withColumn("n_days", F.lit(n_days_local).cast("bigint"))
        .select("n_days", "n_pairs", "slope_q25", "slope_median", "slope_q75")
    )


XCORR_LAGS: tuple[int, ...] = (0, 1, 7)  # lead of y relative to x, in days
XCORR_X, XCORR_Y = "view", "purchase"  # does browsing predict buying?


def _xcorr_oracle() -> str:
    case = (
        "CAST(SUM(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(18,6)) "
        "END) * 1000000 AS BIGINT)"
    )
    lag_cols = ",\n                   ".join(
        f"LEAD(y, {k}) OVER (ORDER BY day) AS y{k}" for k in XCORR_LAGS
    )
    arms = "\n            UNION ALL ".join(
        f"""SELECT {k} AS lag, n{k} AS n_pairs,
                   round(CAST(n{k} * sxy{k} - CAST(sx{k} AS HUGEINT) * sy{k} AS DOUBLE)
                         / (sqrt(CAST(n{k} * sxx{k} - CAST(sx{k} AS HUGEINT) * sx{k} AS DOUBLE))
                            * sqrt(CAST(n{k} * syy{k} - CAST(sy{k} AS HUGEINT) * sy{k} AS DOUBLE))),
                         6) AS xcorr
            FROM s"""
        for k in XCORR_LAGS
    )
    moments = ",\n                   ".join(
        f"""CAST(COUNT(y{k}) AS BIGINT) AS n{k},
                   CAST(SUM(x) FILTER (WHERE y{k} IS NOT NULL) AS BIGINT) AS sx{k},
                   CAST(SUM(y{k}) AS BIGINT) AS sy{k},
                   CAST(SUM(CAST(x AS HUGEINT) * y{k}) AS HUGEINT) AS sxy{k},
                   CAST(SUM(CAST(x AS HUGEINT) * x) FILTER (WHERE y{k} IS NOT NULL) AS HUGEINT) AS sxx{k},
                   CAST(SUM(CAST(y{k} AS HUGEINT) * y{k}) AS HUGEINT) AS syy{k}"""
        for k in XCORR_LAGS
    )
    return f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   COALESCE({case.format(t=XCORR_X)}, 0) AS x,
                   COALESCE({case.format(t=XCORR_Y)}, 0) AS y
            FROM events WHERE event_type IN ('{XCORR_X}', '{XCORR_Y}')
            GROUP BY CAST(ts AS DATE)
        ),
        lagged AS (
            SELECT x, y,
                   {lag_cols}
            FROM daily
        ),
        s AS (
            SELECT {moments}
            FROM lagged
        )
        SELECT lag, n_pairs, xcorr FROM ({arms}) u ORDER BY lag
    """


@register("x_crosscorr", tags=("EXT", "O4", "A7", "F4"), oracle=_xcorr_oracle())
def x_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two event-type daily series
    (does '{XCORR_X}' volume predict '{XCORR_Y}' volume k days later?)
    at leads {XCORR_LAGS} — the lead-lag probe behind funnel latency
    and capacity forecasting, and the bivariate sibling of x_acf.

    Determinism: daily sums are exact integer MICROS (decimal(18,6)
    partials scaled by 1e6), so every Pearson moment at every lag is an
    exact 128-bit integer sum (Spark DECIMAL(38,0) == DuckDB HUGEINT)
    and each correlation is one fixed sqrt/division tree — the x_acf /
    x_assortativity recipe applied bivariate.

    100 TB design: one partial-aggregable conditional groupBy to
    calendar grain before the (unpartitioned-at-|days|) lead window;
    per-segment cross-correlation adds PARTITION BY. All {len(XCORR_LAGS)}
    lags share one window pass and reduce map-side to a single moments
    row.

    Reference parity: no stats surface in the reference; SURVEY.md §2
    EXT time-series family."""
    events = scan_wide(spark, sf_dir, "events", ["ts", "event_type", "value"])
    micro = lambda t: (  # noqa: E731
        F.sum(
            F.when(F.col("event_type") == t, F.col("value").cast("decimal(18,6)"))
        )
        * 1000000
    ).cast("bigint")
    daily = (
        events.filter(F.col("event_type").isin(XCORR_X, XCORR_Y))
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.coalesce(micro(XCORR_X), F.lit(0)).alias("x"),
            F.coalesce(micro(XCORR_Y), F.lit(0)).alias("y"),
        )
    )
    w = W.orderBy("day")
    lagged = daily.select(
        "x", "y", *[F.lead("y", k).over(w).alias(f"y{k}") for k in XCORR_LAGS]
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = lagged.agg(
        *[
            c
            for k in XCORR_LAGS
            for c in (
                F.count(F.col(f"y{k}")).cast("bigint").alias(f"n{k}"),
                F.sum(F.when(F.col(f"y{k}").isNotNull(), F.col("x")))
                .cast("bigint")
                .alias(f"sx{k}"),
                F.sum(f"y{k}").cast("bigint").alias(f"sy{k}"),
                F.sum(dec("x") * F.col(f"y{k}")).cast("decimal(38,0)").alias(f"sxy{k}"),
                F.sum(F.when(F.col(f"y{k}").isNotNull(), dec("x") * F.col("x")))
                .cast("decimal(38,0)")
                .alias(f"sxx{k}"),
                F.sum(dec(f"y{k}") * F.col(f"y{k}"))
                .cast("decimal(38,0)")
                .alias(f"syy{k}"),
            )
        ]
    )
    out = None
    for k in XCORR_LAGS:
        num = (F.col(f"n{k}") * F.col(f"sxy{k}") - dec(f"sx{k}") * F.col(f"sy{k}")).cast(
            "double"
        )
        dx = F.sqrt(
            (F.col(f"n{k}") * F.col(f"sxx{k}") - dec(f"sx{k}") * F.col(f"sx{k}")).cast(
                "double"
            )
        )
        dy = F.sqrt(
            (F.col(f"n{k}") * F.col(f"syy{k}") - dec(f"sy{k}") * F.col(f"sy{k}")).cast(
                "double"
            )
        )
        row = agg.select(
            F.lit(k).cast("int").alias("lag"),
            F.col(f"n{k}").alias("n_pairs"),
            F.round(num / (dx * dy), 6).alias("xcorr"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("lag")


SNAIVE_LAG = 7  # seasonal-naive horizon: same weekday last week


@register(
    "x_forecast_snaive",
    tags=("EXT", "O4", "A7", "F4"),
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        lagged AS (
            SELECT cents,
                   LAG(cents, {SNAIVE_LAG}) OVER (ORDER BY day) AS fc,
                   LAG(cents, 1) OVER (ORDER BY day) AS fc1
            FROM daily
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(abs(cents - fc)) AS BIGINT) AS sae,
                   CAST(SUM(CAST(cents - fc AS HUGEINT) * (cents - fc)) AS HUGEINT)
                       AS sse,
                   CAST(SUM(cents) AS HUGEINT) AS sy,
                   CAST(SUM(abs(cents - fc1)) AS BIGINT) AS sae1
            FROM lagged WHERE fc IS NOT NULL
        )
        SELECT n AS n_days,
               round(CAST(sae AS DOUBLE) / n / 100.0, 6) AS mae_dollars,
               round(sqrt(CAST(sse AS DOUBLE) / n) / 100.0, 6) AS rmse_dollars,
               round(CAST(sae AS DOUBLE) / CAST(sy AS DOUBLE), 6) AS wmape,
               round(CAST(sae AS DOUBLE) / CAST(sae1 AS DOUBLE), 6) AS mase_vs_naive1
        FROM s
    """,
)
def x_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: score the seasonal-naive forecaster (predict
    today = the {SNAIVE_LAG}th-previous observed day, i.e. same weekday
    last week) against realized daily revenue — MAE, RMSE, WMAPE, and
    MASE vs the lag-1 naive (MASE < 1 = weekly seasonality carries real
    signal). The accuracy harness any forecasting layer needs BEFORE a
    model earns deployment; WMAPE (sum|e|/sum y) replaces MAPE exactly
    because per-term ratio sums are order-dependent — the same
    determinism discipline, applied to metric CHOICE.

    Determinism: errors are exact integer cents; all four metrics are
    fixed division/sqrt trees over exact 128-bit sums. Evaluation set =
    days with a {SNAIVE_LAG}-back observation, identical in both
    engines.

    100 TB design: partial agg to calendar grain, one lag window over
    the collapsed series, map-side reduction to ONE moments row;
    per-entity backtests add PARTITION BY.

    Reference parity: rating-trend analysis (README.md:8) made
    predictive and scored; SURVEY.md §2 EXT time-series family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("bigint")
        .alias("cents")
    )
    w = W.orderBy("day")
    lagged = daily.select(
        "cents",
        F.lag("cents", SNAIVE_LAG).over(w).alias("fc"),
        F.lag("cents", 1).over(w).alias("fc1"),
    ).filter(F.col("fc").isNotNull())
    e = F.col("cents") - F.col("fc")
    s = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.abs(e)).cast("bigint").alias("sae"),
        F.sum(e.cast("decimal(38,0)") * e).cast("decimal(38,0)").alias("sse"),
        F.sum("cents").cast("decimal(38,0)").alias("sy"),
        F.sum(F.abs(F.col("cents") - F.col("fc1"))).cast("bigint").alias("sae1"),
    )
    return s.select(
        F.col("n").alias("n_days"),
        F.round(F.col("sae").cast("double") / F.col("n") / 100.0, 6).alias("mae_dollars"),
        F.round(F.sqrt(F.col("sse").cast("double") / F.col("n")) / 100.0, 6).alias(
            "rmse_dollars"
        ),
        F.round(F.col("sae").cast("double") / F.col("sy").cast("double"), 6).alias("wmape"),
        F.round(F.col("sae").cast("double") / F.col("sae1").cast("double"), 6).alias(
            "mase_vs_naive1"
        ),
    )


STREAK_MIN = 3  # "active streak" threshold in consecutive days


@register(
    "x_runs_streaks",
    tags=("EXT", "O3", "O4", "A4"),
    oracle=f"""
        WITH days AS (
            SELECT DISTINCT o_custkey, o_orderdate FROM orders
        ),
        isl AS (
            SELECT o_custkey,
                   CAST(o_orderdate AS DATE) - CAST(row_number() OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate) AS INTEGER)
                       AS grp
            FROM days
        ),
        runs AS (
            SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS run_len
            FROM isl GROUP BY o_custkey, grp
        ),
        per_cust AS (
            SELECT o_custkey, CAST(MAX(run_len) AS BIGINT) AS best
            FROM runs GROUP BY o_custkey
        )
        SELECT c_mktsegment AS segment,
               COUNT(*) AS n_customers,
               CAST(MAX(best) AS BIGINT) AS max_streak,
               CAST(SUM(CASE WHEN best >= {STREAK_MIN} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_streak{STREAK_MIN}
        FROM per_cust JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY segment
    """,
)
def x_runs_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of CONSECUTIVE order days per
    customer, summarized per market segment — the classic streak
    analysis (SQL's canonical islands idiom: group key = date minus
    row_number, constant exactly along a consecutive run). Engagement
    pipelines run this shape for daily-active streaks and retention
    badges.

    Determinism: dates and counts only — no floats anywhere.

    100 TB design: the DISTINCT, the row_number window and the island
    groupBy all share ONE o_custkey-keyed shuffle (Catalyst reuses the
    hash partitioning; the window's sort is per-customer, never
    global); the segment join broadcasts the customer dim's two
    columns. At 100 TB the per-key row count is per-customer order
    days — bounded and tiny."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    days = orders.distinct()
    rn = F.row_number().over(W.partitionBy("o_custkey").orderBy("o_orderdate"))
    isl = days.select("o_custkey", F.date_sub("o_orderdate", rn.cast("int")).alias("grp"))
    runs = isl.groupBy("o_custkey", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len")
    )
    per_cust = runs.groupBy("o_custkey").agg(F.max("run_len").cast("bigint").alias("best"))
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.max("best").cast("bigint").alias("max_streak"),
            F.sum(F.when(F.col("best") >= STREAK_MIN, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_streak{STREAK_MIN}"),
        )
        .orderBy("segment")
    )
