"""Statistical sketches and spectral operators (A6/X3 extensions):
deterministic KMV distinct sketch, rolling z-score anomaly screening,
and Gram-matrix PCA over the embedding corpus.

Reference parity: the reference (music_db.sql / Queries) has no
approximate or statistical surface at all — this family exists for the
100 TB pipeline story (SURVEY.md §2.4 A6, §2.12 X3): cardinality
estimation that merges across shards, anomaly screens over metric
streams, and dimensionality reduction ahead of ANN indexing.

Float determinism: the established repo recipe — every sum that crosses
a partition boundary is accumulated in DECIMAL (exact, associative),
collapsed to double once, and all downstream arithmetic is a fixed IEEE
expression tree the DuckDB oracle mirrors token-for-token.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from .relational import _t
from ..functions.vector import as_double_array, dot
from ..sources.loader import scan_wide
from ..session import cached

# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch
# ---------------------------------------------------------------------------

K_KMV = 128  # sketch size; rel. error ~ 1/sqrt(K-2) ~ 9%

# Both engines hash identically: md5 of the same string, first 8 hex
# digits parsed as an unsigned 32-bit integer. Spark: conv(,16,10);
# DuckDB: CAST('0x'||hex AS BIGINT). Verified equal (e.g. 'k:a' on both).
_HASH_SPAN = 4294967296.0  # 2^32 — hashes are uniform on [0, 2^32)


def _kmv_oracle() -> str:
    k = K_KMV
    return f"""
        WITH d AS (
            SELECT DISTINCT l_returnflag AS flag, l_partkey AS pk FROM lineitem
        ),
        hs AS (
            SELECT DISTINCT flag,
                   CAST(('0x' || substr(md5('k:' || CAST(pk AS VARCHAR)), 1, 8)) AS BIGINT) AS h
            FROM d
        ),
        rn AS (
            SELECT flag, h, row_number() OVER (PARTITION BY flag ORDER BY h) AS rn
            FROM hs
        ),
        kth AS (
            SELECT flag, max(h) AS hk, COUNT(*) AS nk
            FROM rn WHERE rn <= {k} GROUP BY flag
        ),
        ex AS (SELECT flag, COUNT(*) AS exact_distinct FROM d GROUP BY flag),
        est AS (
            SELECT ex.flag, exact_distinct,
                   CASE WHEN nk < {k} THEN CAST(nk AS DOUBLE)
                        ELSE {float(k - 1)} * {_HASH_SPAN} / hk END AS e
            FROM ex JOIN kth ON ex.flag = kth.flag
        )
        SELECT flag AS returnflag, exact_distinct,
               round(e, 6) AS kmv_estimate,
               round(abs(e - exact_distinct) * 100.0 / exact_distinct, 6) AS rel_err_pct
        FROM est ORDER BY returnflag
    """


@register("x_distinct_kmv", tags=("EXT", "A6", "O2"), oracle=_kmv_oracle())
def x_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV (k-minimum-values) distinct-count sketch per
    group, reported against the exact count: estimate = (k-1) / h_(k)
    with h_(k) the k-th smallest distinct hash normalized to [0,1) —
    here kept integral as (k-1)*2^32/h. Unlike HLL (q9b, rows-only),
    the md5-based KMV is engine-portable and value-hash-checkable.

    100 TB design: the sketch is a bounded state of k hashes per group,
    and "k smallest per group" is rank <= k over a hash-ordered window —
    Spark's WindowGroupLimit pushes that limit map-side, so each
    partition forwards at most k rows per group into the shuffle
    (exactly the mergeability that makes KMV shard-friendly: union the
    per-shard k-min sets, re-take the k smallest). The exact
    COUNT(DISTINCT) twin here is only the harness yardstick — at
    production scale one runs the sketch alone.
    """
    li = _t(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_returnflag").alias("flag"), F.col("l_partkey").alias("pk")
    ).distinct()
    hs = d.select(
        "flag",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("k:"), F.col("pk").cast("string"))), 1, 8),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    ).distinct()
    rn = hs.select(
        "flag", "h", F.row_number().over(W.partitionBy("flag").orderBy("h")).alias("rn")
    )
    kth = (
        rn.filter(F.col("rn") <= K_KMV)
        .groupBy("flag")
        .agg(F.max("h").alias("hk"), F.count(F.lit(1)).alias("nk"))
    )
    ex = d.groupBy("flag").agg(F.count(F.lit(1)).alias("exact_distinct"))
    e = F.when(F.col("nk") < K_KMV, F.col("nk").cast("double")).otherwise(
        F.lit(float(K_KMV - 1)) * F.lit(_HASH_SPAN) / F.col("hk")
    )
    return (
        ex.join(kth, "flag")
        .select(
            F.col("flag").alias("returnflag"),
            "exact_distinct",
            F.round(e, 6).alias("kmv_estimate"),
            F.round(F.abs(e - F.col("exact_distinct")) * 100.0 / F.col("exact_distinct"), 6)
            .alias("rel_err_pct"),
        )
        .orderBy("returnflag")
    )


# ---------------------------------------------------------------------------
# Hash-sampled quantile estimation
# ---------------------------------------------------------------------------

QS_PCT = 10  # deterministic sample rate (md5 bucket < QS_PCT of 100)
QS_QUANTILES = (("q50", 0.5), ("q95", 0.95))


def _interp_sql(tag: str, q: float, lo: str, hi: str, n: str) -> str:
    """Linear-interpolation quantile from the lo/hi order statistics:
    v_lo + frac * (v_hi - v_lo), frac = q(n-1) - floor(q(n-1))."""
    pos = f"{q} * ({n} - 1)"
    return f"round({lo} + ({pos} - floor({pos})) * ({hi} - {lo}), 6) AS {tag}"


def _quantile_sample_oracle() -> str:
    def order_stats(src: str, suffix: str) -> str:
        aggs = []
        for tag, q in QS_QUANTILES:
            pos = f"{q} * (n - 1)"
            aggs.append(
                f"max(CASE WHEN rn = 1 + CAST(floor({pos}) AS BIGINT) THEN v END) AS lo_{tag}{suffix}"
            )
            aggs.append(
                f"max(CASE WHEN rn = least(2 + CAST(floor({pos}) AS BIGINT), n) THEN v END)"
                f" AS hi_{tag}{suffix}"
            )
        return (
            f"SELECT flag, n AS n{suffix}, {', '.join(aggs)}"
            f" FROM (SELECT flag, v, row_number() OVER (PARTITION BY flag ORDER BY v) AS rn,"
            f"              COUNT(*) OVER (PARTITION BY flag) AS n FROM {src})"
            f" GROUP BY flag, n"
        )

    outs = ["s.flag AS returnflag", "n_s AS n_sample", "n_f AS n_total"]
    for tag, q in QS_QUANTILES:
        outs.append(_interp_sql(f"{tag}_sample", q, f"lo_{tag}_s", f"hi_{tag}_s", "n_s"))
        outs.append(_interp_sql(f"{tag}_exact", q, f"lo_{tag}_f", f"hi_{tag}_f", "n_f"))
    return f"""
        WITH base AS (
            SELECT l_returnflag AS flag, l_extendedprice AS v,
                   CAST(('0x' || substr(md5('q:' || CAST(l_orderkey AS VARCHAR)
                        || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
            FROM lineitem
        ),
        s_stats AS ({order_stats("(SELECT flag, v FROM base WHERE b < " + str(QS_PCT) + ")", "_s")}),
        f_stats AS ({order_stats("base", "_f")})
        SELECT {', '.join(outs)}
        FROM s_stats s JOIN f_stats f ON s.flag = f.flag
        ORDER BY returnflag
    """


@register("x_quantile_sample", tags=("EXT", "A6", "O3", "O5"), oracle=_quantile_sample_oracle())
def x_quantile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantile estimation by deterministic hash sampling:
    p50/p95 of l_extendedprice per returnflag from a 10% md5-bucket
    sample, reported against the exact full-data quantiles. Both sides
    use the same explicit interpolation tree (v_lo + frac*(v_hi - v_lo),
    frac = q(n-1) - floor(q(n-1))) built from two order statistics —
    engine-native quantile functions are sidestepped so the arithmetic
    is bit-identical, and unlike approx_percentile's GK sketch
    (x_approx_percentiles, rows-only) the ESTIMATE itself is
    value-hash-checked. The sample membership is a pure function of the
    row key, so the estimate is reproducible across runs, engines and
    partitionings — the property a sampling-based profiler must have
    for regression-testable data quality gates.

    100 TB design: the sample side sorts rate*n rows per group instead
    of n (at 1% and k groups that is a 100x smaller sort); the
    full-data exact twin is only the harness yardstick. Standard error
    of a sample quantile is O(sqrt(q(1-q)/m)) of the local density — at
    100 TB a 0.1% sample still holds millions of rows per group, far
    tighter than any fixed-size sketch."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("q:"),
                            F.col("l_orderkey").cast("string"),
                            F.lit(":"),
                            F.col("l_linenumber").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 100
        ).alias("b"),
    )

    def order_stats(df: DataFrame, suffix: str) -> DataFrame:
        w = W.partitionBy("flag").orderBy("v")
        wn = W.partitionBy("flag")
        rs = df.select(
            "flag",
            "v",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        aggs = []
        for tag, q in QS_QUANTILES:
            pos = F.lit(q) * (F.col("n") - 1)
            lo_rn = 1 + F.floor(pos).cast("bigint")
            hi_rn = F.least(2 + F.floor(pos).cast("bigint"), F.col("n"))
            aggs.append(F.max(F.when(F.col("rn") == lo_rn, F.col("v"))).alias(f"lo_{tag}{suffix}"))
            aggs.append(F.max(F.when(F.col("rn") == hi_rn, F.col("v"))).alias(f"hi_{tag}{suffix}"))
        return rs.groupBy("flag", F.col("n").alias(f"n{suffix}")).agg(*aggs)

    s_stats = order_stats(base.filter(F.col("b") < QS_PCT).select("flag", "v"), "_s")
    f_stats = order_stats(base.select("flag", "v"), "_f")

    def interp(tag: str, q: float, suffix: str):
        n, lo, hi = F.col(f"n{suffix}"), F.col(f"lo_{tag}{suffix}"), F.col(f"hi_{tag}{suffix}")
        pos = F.lit(q) * (n - 1)
        return F.round(lo + (pos - F.floor(pos)) * (hi - lo), 6)

    outs = [
        F.col("n_s").alias("n_sample"),
        F.col("n_f").alias("n_total"),
    ]
    for tag, q in QS_QUANTILES:
        outs.append(interp(tag, q, "_s").alias(f"{tag}_sample"))
        outs.append(interp(tag, q, "_f").alias(f"{tag}_exact"))
    return (
        s_stats.join(f_stats, "flag")
        .select(F.col("flag").alias("returnflag"), *outs)
        .orderBy("returnflag")
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly screen
# ---------------------------------------------------------------------------

Z_THRESHOLD = 2.0
Z_MIN_HISTORY = 4  # need >= 4 trailing days before a z-score is meaningful


@register(
    "x_anomaly_zscore",
    tags=("EXT", "O4", "O5", "A5"),
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS daily_total
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        win AS (
            SELECT event_type, day, daily_total,
                   CAST(SUM(CAST(daily_total AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s,
                   CAST(SUM(CAST(daily_total * daily_total AS DECIMAL(38,12))) OVER w AS DOUBLE) AS ss,
                   COUNT(*) OVER w AS cnt
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        ),
        z AS (
            SELECT event_type, day, daily_total,
                   (daily_total - s / cnt)
                   / sqrt(GREATEST(ss / cnt - (s / cnt) * (s / cnt), 1e-300)) AS z
            FROM win WHERE cnt >= {Z_MIN_HISTORY}
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
               round(daily_total, 6) AS daily_total, round(z, 6) AS z_score
        FROM z WHERE abs(z) > {Z_THRESHOLD} ORDER BY event_type, day
    """,
)
def x_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly screen: per event type, flag days whose
    total metric value sits more than 2.0 trailing standard
    deviations from the trailing-week mean (frame = ROWS BETWEEN 7
    PRECEDING AND 1 PRECEDING — strictly historical, so the tested day
    never contaminates its own baseline). The day-level pre-aggregation
    is exact decimal; the frame moments (s, ss, cnt) are decimal sums
    too, so the z arithmetic is one fixed IEEE tree on both engines.

    100 TB design: the wide input collapses to (event_type x day) rows
    in one partial-aggregable pass before any window runs — the window
    then sorts only the tiny daily series per type. This is the
    pipeline-health screen shape (ingest volume, dedup rate, quality
    score drift) that runs after every corpus build; a variant over
    x_embedding_drift's split metrics monitors model-input shift.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("daily_total")
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    win = daily.select(
        "event_type",
        "day",
        "daily_total",
        F.sum(F.col("daily_total").cast("decimal(18,6)")).over(w).cast("double").alias("s"),
        F.sum((F.col("daily_total") * F.col("daily_total")).cast("decimal(38,12)"))
        .over(w)
        .cast("double")
        .alias("ss"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    mean = F.col("s") / F.col("cnt")
    z = (F.col("daily_total") - mean) / F.sqrt(
        F.greatest(F.col("ss") / F.col("cnt") - mean * mean, F.lit(1e-300))
    )
    # Filter on the UNROUNDED z, exactly as the oracle's WHERE does —
    # filtering after round() would drop a boundary z like 2.0000004
    # that the oracle keeps (code-review finding, round 4).
    return (
        win.filter(F.col("cnt") >= Z_MIN_HISTORY)
        .filter(F.abs(z) > Z_THRESHOLD)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("daily_total", 6).alias("daily_total"),
            F.round(z, 6).alias("z_score"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Gram-matrix PCA over the embedding corpus
# ---------------------------------------------------------------------------

PCA_ORACLE_DIMS = 8  # oracle-checked covariance block (full-d twin below)


def _pca_gram_oracle() -> str:
    d = PCA_ORACLE_DIMS
    sums = [
        f"SUM(CAST(CAST(embedding[{i}] AS DOUBLE) AS DECIMAL(27,12))) AS s{i}"
        for i in range(1, d + 1)
    ]
    prods = [
        f"SUM(CAST(CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{j}] AS DOUBLE)"
        f" AS DECIMAL(38,12))) AS p{i}_{j}"
        for i in range(1, d + 1)
        for j in range(i, d + 1)
    ]
    rows = [
        f"SELECT {i} AS i, {j} AS j,"
        f" round(CAST(p{i}_{j} AS DOUBLE) / n"
        f" - (CAST(s{i} AS DOUBLE) / n) * (CAST(s{j} AS DOUBLE) / n), 6) AS cov"
        f" FROM mom"
        for i in range(1, d + 1)
        for j in range(i, d + 1)
    ]
    return (
        "WITH mom AS (SELECT COUNT(*) AS n, "
        + ", ".join(sums + prods)
        + " FROM embeddings) "
        + " UNION ALL ".join(rows)
        + " ORDER BY i, j"
    )


@register("x_pca_gram", tags=("EXT", "X3", "A5", "F5"), oracle=_pca_gram_oracle())
def x_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance block of the embedding corpus (the PCA input): the
    upper triangle of cov(X) over the first 8 embedding
    components, from ONE aggregation pass of exact decimal moments
    (n, per-dim sums, pairwise product sums) — the x_corr_matrix recipe
    lifted to vector columns. cov_ij = P_ij/n - (S_i/n)(S_j/n).

    100 TB design: a d-dim corpus needs d(d+3)/2 accumulators in a
    single partial-aggregable pass — no shuffle beyond the one-row
    final agg, no per-pair re-scan; this is how the full 64-dim Gram
    feeding x_pca_project is built (there via per-partition numpy
    BLAS partials, same algebra). The oracle checks this 8-dim block;
    the full-d path is the rows-only x_pca_project twin.
    """
    emb = _t(spark, sf_dir, "embeddings")
    d = PCA_ORACLE_DIMS
    v = {i: F.element_at("embedding", i).cast("double") for i in range(1, d + 1)}
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(1, d + 1):
        aggs.append(F.sum(v[i].cast("decimal(27,12)")).alias(f"s{i}"))
    pairs = [(i, j) for i in range(1, d + 1) for j in range(i, d + 1)]
    for i, j in pairs:
        aggs.append(F.sum((v[i] * v[j]).cast("decimal(38,12)")).alias(f"p{i}_{j}"))
    mom = emb.agg(*aggs)
    n = F.col("n")
    rows = [
        F.struct(
            F.lit(i).alias("i"),
            F.lit(j).alias("j"),
            F.round(
                F.col(f"p{i}_{j}").cast("double") / n
                - (F.col(f"s{i}").cast("double") / n) * (F.col(f"s{j}").cast("double") / n),
                6,
            ).alias("cov"),
        )
        for i, j in pairs
    ]
    return (
        mom.select(F.explode(F.array(*rows)).alias("r")).select("r.*").orderBy("i", "j")
    )


def _full_covariance(spark: SparkSession, sf_dir: str) -> tuple[np.ndarray, int]:
    """Full-dimension covariance of the embedding corpus, computed as
    per-partition numpy Gram partials (X^T X, column sums, row count —
    one BLAS call per Arrow batch) merged by an exact decimal
    aggregation keyed on the flattened matrix position.

    100 TB design: the shuffle carries one (1 + d + d^2)-element vector
    PER PARTITION — independent of row count — and the driver receives
    d^2 + d + 1 scalars, bounded by dimension not data (the same
    scalar-only collect budget as the components convergence check).
    The decimal merge makes the result independent of partition count.
    """
    from ..sources.loader import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def partial_gram(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            flat = np.concatenate(([float(X.shape[0])], X.sum(axis=0), (X.T @ X).ravel()))
            yield pd.DataFrame({"m": [flat.tolist()]})

    parts = emb.select("embedding").mapInPandas(partial_gram, schema="m array<double>")
    merged = (
        parts.select(F.posexplode("m").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum(F.col("v").cast("decimal(30,10)")).cast("double").alias("v"))
        .orderBy("pos")
        .collect()
    )
    flat = np.array([r["v"] for r in merged])
    n = int(round(flat[0]))
    # len(flat) = 1 + d + d^2  =>  d = (sqrt(4L - 3) - 1) / 2
    dim = int(round(((4 * len(flat) - 3) ** 0.5 - 1) / 2))
    s, g = flat[1 : 1 + dim], flat[1 + dim :].reshape(dim, dim)
    mean = s / n
    return g / n - np.outer(mean, mean), n


@register("x_pca_project", tags=("EXT", "X3", "D2", "F5"), oracle=None)
def x_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of every embedding onto the corpus' top-2
    principal components — the dimensionality-reduction step ahead of
    ANN index build or drift visualization. The covariance comes from
    the distributed Gram pass (_full_covariance); the d x d
    eigendecomposition is a driver-side numpy eigh (trivial at any
    corpus size — cost depends on d alone), with each eigenvector's
    sign fixed so its largest-magnitude entry is positive; the
    projection itself is a JVM-side zip_with/aggregate dot product per
    row against the broadcast component literals — no Python in the
    row-wise hot path.

    Rows-only by necessity: no SQL engine exposes eigendecomposition;
    the oracle-checked twin is x_pca_gram (same moment algebra,
    SQL-checkable covariance block). Deterministic given the corpus:
    the decimal Gram merge is partition-independent and eigh is
    deterministic on identical input.
    """
    cov, _ = _full_covariance(spark, sf_dir)
    vals, vecs = np.linalg.eigh(cov)
    comps = []
    for k in (1, 2):  # eigh sorts ascending -> take the last two columns
        vec = vecs[:, -k]
        if vec[int(np.argmax(np.abs(vec)))] < 0:
            vec = -vec
        comps.append(vec)
    emb = _t(spark, sf_dir, "embeddings")
    e = as_double_array("embedding")
    out = emb.select(
        "vec_id",
        *[
            F.round(dot(e, F.array(*[F.lit(float(c)) for c in comp])), 6).alias(f"pc{k}")
            for k, comp in enumerate(comps, start=1)
        ],
    )
    return out.orderBy("vec_id")


# ---------------------------------------------------------------------------
# Robust (median/MAD) anomaly screen — the outlier-resistant twin of
# x_anomaly_zscore
# ---------------------------------------------------------------------------

MAD_THRESHOLD = 2.5  # test-scale pin; 3.5 is the Iglewicz-Hoaglin default
MAD_CONST = 0.6745  # Phi^-1(3/4): scales MAD to sigma-equivalents


def _grouped_median(df: DataFrame, key: str, col: str) -> DataFrame:
    """(key, median-of-col) via the explicit two-order-statistic
    interpolation (x_quantile_sample's recipe at q=0.5) — engine-portable
    where percentile()/median() built-ins are not."""
    w = W.partitionBy(key).orderBy(col)
    rs = df.select(
        key,
        F.col(col).alias("__v"),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(W.partitionBy(key)).alias("__n"),
    )
    pos = F.lit(0.5) * (F.col("__n") - 1)
    lo_rn = 1 + F.floor(pos).cast("bigint")
    hi_rn = F.least(2 + F.floor(pos).cast("bigint"), F.col("__n"))
    stats = rs.groupBy(key, F.col("__n").alias("__n")).agg(
        F.max(F.when(F.col("__rn") == lo_rn, F.col("__v"))).alias("__lo"),
        F.max(F.when(F.col("__rn") == hi_rn, F.col("__v"))).alias("__hi"),
    )
    p = F.lit(0.5) * (F.col("__n") - 1)
    return stats.select(
        key,
        (F.col("__lo") + (p - F.floor(p)) * (F.col("__hi") - F.col("__lo"))).alias(
            "median"
        ),
    )


@register(
    "x_anomaly_mad",
    tags=("EXT", "O3", "A5", "F4"),
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        rs AS (
            SELECT event_type, day, v,
                   row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ),
        med AS (
            SELECT event_type, n,
                   max(CASE WHEN rn = 1 + CAST(floor(0.5*(n-1)) AS BIGINT) THEN v END) AS lo,
                   max(CASE WHEN rn = least(2 + CAST(floor(0.5*(n-1)) AS BIGINT), n) THEN v END) AS hi
            FROM rs GROUP BY event_type, n
        ),
        medv AS (SELECT event_type,
                        lo + (0.5*(n-1) - floor(0.5*(n-1))) * (hi - lo) AS med FROM med),
        dev AS (
            SELECT d.event_type, d.day, d.v, m.med, abs(d.v - m.med) AS ad
            FROM daily d JOIN medv m ON d.event_type = m.event_type
        ),
        rs2 AS (
            SELECT event_type, ad,
                   row_number() OVER (PARTITION BY event_type ORDER BY ad) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM dev
        ),
        mad AS (
            SELECT event_type, n,
                   max(CASE WHEN rn = 1 + CAST(floor(0.5*(n-1)) AS BIGINT) THEN ad END) AS lo,
                   max(CASE WHEN rn = least(2 + CAST(floor(0.5*(n-1)) AS BIGINT), n) THEN ad END) AS hi
            FROM rs2 GROUP BY event_type, n
        ),
        madv AS (SELECT event_type,
                        lo + (0.5*(n-1) - floor(0.5*(n-1))) * (hi - lo) AS mad FROM mad),
        rz AS (
            SELECT d.event_type, d.day, d.v,
                   {MAD_CONST} * (d.v - d.med) / GREATEST(m.mad, 1e-300) AS z
            FROM dev d JOIN madv m ON d.event_type = m.event_type
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
               round(v, 6) AS daily_total, round(z, 6) AS robust_z
        FROM rz WHERE abs(z) > {MAD_THRESHOLD} ORDER BY event_type, day
    """,
)
def x_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screen: modified z-score 0.6745*(x - median)/MAD
    per event type over the daily metric series (Iglewicz-Hoaglin).
    Complements x_anomaly_zscore exactly where it fails: mean/stddev are
    themselves dragged by the outliers they are meant to flag (masking),
    while median and MAD have a 50% breakdown point — the screen a
    pipeline uses when a bad data drop may corrupt MANY days at once.
    Both medians come from the explicit two-order-statistic
    interpolation (engine-portable, unlike percentile built-ins), so
    the flagged scores value-hash-match the oracle.

    100 TB design: the wide input collapses to (type x day) rows in one
    partial-aggregable pass; the two median windows sort only the tiny
    daily series per type. The 2.5 threshold is a
    test-scale pin (3.5 is the standard default)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v")
    )
    medv = _grouped_median(daily, "event_type", "v").withColumnRenamed("median", "med")
    dev = daily.join(medv, "event_type").select(
        "event_type", "day", "v", "med", F.abs(F.col("v") - F.col("med")).alias("ad")
    )
    madv = _grouped_median(dev, "event_type", "ad").withColumnRenamed("median", "mad")
    z = F.lit(MAD_CONST) * (F.col("v") - F.col("med")) / F.greatest(
        F.col("mad"), F.lit(1e-300)
    )
    # Filter on the UNROUNDED z to mirror the oracle's WHERE exactly
    # (same boundary reasoning as x_anomaly_zscore).
    return (
        dev.join(madv, "event_type")
        .filter(F.abs(z) > MAD_THRESHOLD)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("v", 6).alias("daily_total"),
            F.round(z, 6).alias("robust_z"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

CMS_D = 4  # sketch depth (independent hash rows)
CMS_W = 256  # sketch width (columns per row)
CMS_TOP = 20  # heavy hitters reported


def _cms_oracle() -> str:
    return f"""
        WITH cells AS (
            SELECT r.r,
                   CAST('0x' || substr(md5('cms' || r.r || ':' || CAST(user_id AS VARCHAR)),
                                       1, 8) AS BIGINT) % {CMS_W} AS col,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events CROSS JOIN (SELECT unnest(range(0, {CMS_D})) AS r) r
            GROUP BY r.r, col
        ),
        exact AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
            FROM events GROUP BY user_id
            ORDER BY exact_n DESC, user_id LIMIT {CMS_TOP}
        ),
        probes AS (
            SELECT e.user_id, e.exact_n, r.r,
                   CAST('0x' || substr(md5('cms' || r.r || ':' || CAST(e.user_id AS VARCHAR)),
                                       1, 8) AS BIGINT) % {CMS_W} AS col
            FROM exact e CROSS JOIN (SELECT unnest(range(0, {CMS_D})) AS r) r
        )
        SELECT p.user_id, p.exact_n, CAST(MIN(c.cnt) AS BIGINT) AS cms_est
        FROM probes p JOIN cells c ON c.r = p.r AND c.col = p.col
        GROUP BY p.user_id, p.exact_n
        ORDER BY exact_n DESC, user_id
    """


@register(
    "x_cms_heavy_hitters",
    tags=("EXT", "A6", "A1", "O2"),
    oracle=_cms_oracle(),
)
def x_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) frequency
    estimation, fully hash-checked: a CMS_D x CMS_W integer grid over
    event user_ids (hash row r maps a key to one column via the
    engine-portable md5 family), probed for the exact top-CMS_TOP
    heavy hitters so the one-sided error contract — estimate >= exact
    count, within eps*N with probability 1-delta — is visible in the
    output and verified value-for-value against DuckDB. Completes the
    sketch family: KMV (distinct), sampled quantiles, HLL (rows-only
    twin), and now CMS (frequency).

    100 TB design: the sketch is CMS_D*CMS_W bigint cells REGARDLESS
    of corpus size, built by one partial-aggregable groupBy (each
    event contributes CMS_D cells map-side); per-shard grids merge by
    cell-wise addition (linear sketch), which is how a 1000-executor
    fleet unions its partial sketches; probes broadcast-join against
    the tiny grid. Exact counts here are the verification yardstick
    only — production reads frequencies straight off the grid."""
    ev = _t(spark, sf_dir, "events")

    def col_for(r: int, key):
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"cms{r}:"), key.cast("string"))), 1, 8),
                16,
                10,
            ).cast("bigint"),
            F.lit(CMS_W),
        )

    cells = (
        ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(r).alias("r"), col_for(r, F.col("user_id")).alias("col"))
                        for r in range(CMS_D)
                    ]
                )
            ).alias("c")
        )
        .groupBy("c.r", "c.col")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(CMS_TOP)
    )
    probes = exact.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), col_for(r, F.col("user_id")).alias("col"))
                    for r in range(CMS_D)
                ]
            )
        ).alias("p"),
    ).select("user_id", "exact_n", "p.r", "p.col")
    return (
        probes.join(F.broadcast(cells), ["r", "col"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").cast("bigint").alias("cms_est"))
        .orderBy(F.col("exact_n").desc(), "user_id")
    )


# ---------------------------------------------------------------------------
# KMV set algebra: union / intersection estimates between two sketches
# ---------------------------------------------------------------------------

K_SETOPS = 128  # sketch size per set


def _kmv_setops_oracle() -> str:
    k = K_SETOPS
    return f"""
        WITH split_docs AS (
            SELECT CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                             % 100 < 80
                        THEN 'train' ELSE 'heldout' END AS split,
                   text
            FROM documents
        ),
        toks AS (
            SELECT DISTINCT split, array_to_string(t[i:i+2], ' ') AS tok
            FROM (SELECT split, string_split(text, ' ') AS t FROM split_docs) x,
                 LATERAL unnest(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ),
        hs AS (
            SELECT DISTINCT split,
                   CAST('0x' || substr(md5('v:' || tok), 1, 8) AS BIGINT) AS h
            FROM toks
        ),
        rn AS (
            SELECT split, h, row_number() OVER (PARTITION BY split ORDER BY h) AS rn
            FROM hs
        ),
        kmin AS (SELECT split, h FROM rn WHERE rn <= {k}),
        theta AS (
            SELECT split, CASE WHEN COUNT(*) >= {k} THEN CAST(MAX(h) AS DOUBLE)
                               ELSE 4294967296.0 END AS theta,
                   COUNT(*) AS nk
            FROM kmin GROUP BY split
        ),
        est AS (
            SELECT split,
                   CASE WHEN nk < {k} THEN CAST(nk AS DOUBLE)
                        ELSE {float(K_SETOPS - 1)} * 4294967296.0 / theta END AS e,
                   theta
            FROM theta
        ),
        umin AS (
            SELECT h FROM (
                SELECT DISTINCT h FROM kmin
            ) u ORDER BY h LIMIT {k}
        ),
        uest AS (
            SELECT CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE {float(K_SETOPS - 1)} * 4294967296.0 / CAST(MAX(h) AS DOUBLE)
                   END AS e_union
            FROM umin
        ),
        tmin AS (SELECT LEAST(a.theta, b.theta) AS th
                 FROM est a, est b WHERE a.split = 'train' AND b.split = 'heldout'),
        common AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_common
            FROM kmin a JOIN kmin b ON a.h = b.h
                 AND a.split = 'train' AND b.split = 'heldout'
            CROSS JOIN tmin WHERE a.h < tmin.th
        ),
        exact AS (
            SELECT
                (SELECT COUNT(DISTINCT tok) FROM toks WHERE split = 'train') AS x_a,
                (SELECT COUNT(DISTINCT tok) FROM toks WHERE split = 'heldout') AS x_b,
                (SELECT COUNT(*) FROM
                    (SELECT DISTINCT tok FROM toks WHERE split = 'train')
                    NATURAL JOIN
                    (SELECT DISTINCT tok FROM toks WHERE split = 'heldout')) AS x_i
        )
        SELECT CAST(exact.x_a AS BIGINT) AS exact_a,
               CAST(exact.x_b AS BIGINT) AS exact_b,
               CAST(exact.x_i AS BIGINT) AS exact_inter,
               CAST(exact.x_a + exact.x_b - exact.x_i AS BIGINT) AS exact_union,
               round((SELECT e FROM est WHERE split = 'train'), 6) AS est_a,
               round((SELECT e FROM est WHERE split = 'heldout'), 6) AS est_b,
               round((SELECT e_union FROM uest), 6) AS est_union,
               round(CAST(common.n_common AS DOUBLE) * 4294967296.0 / tmin.th, 6)
                   AS est_inter
        FROM exact, common, tmin
    """


@register("x_kmv_setops", tags=("EXT", "A6", "U1", "U2"), oracle=_kmv_setops_oracle())
def x_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA (theta-sketch style over the deterministic KMV
    family): estimate |A|, |B|, |A∪B|, |A∩B| of the train vs held-out
    TRIGRAM-PHRASE inventories from two k=128 sketches alone, next to the exact
    values — the split-overlap audit (shared-vocabulary mass between
    train and eval) a pipeline runs per drop without ever holding
    either vocabulary in memory. Union sketch = k smallest of the
    merged k-min sets (exactly how 1000 per-shard sketches combine);
    intersection via the theta cut: members of both sketches below
    theta = min(theta_A, theta_B), scaled by the sampled fraction.
    Every hash is the engine-portable md5 family, every estimate one
    fixed IEEE tree -> the ESTIMATES themselves are hash-checked.

    100 TB design: per-split k-min via the same WindowGroupLimit shape
    as x_distinct_kmv (at most k rows per split forwarded per
    partition); all set algebra then happens on two 128-row frames."""
    docs = _t(spark, sf_dir, "documents")
    split = F.when(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("int")
        % 100
        < 80,
        "train",
    ).otherwise("heldout")
    arr = F.split("text", " ")
    # cached: the distinct trigram inventory feeds the sketch side (hs)
    # AND the exact side — without the persist the pushed-down split
    # filters specialize each consumer's aggregate subtree and the
    # trigram explode re-runs per consumer (16 scan/Generate nodes, 62
    # Exchanges in the round-12 plan; round-13 plan audit). Persisting
    # inside the query keeps every run computing from parquet.
    toks = cached(
        docs.filter(F.size(arr) >= 3)
        .select(
            split.alias("split"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(arr) - 2),
                    lambda i: F.concat_ws(" ", F.slice(arr, i, 3)),
                )
            ).alias("tok"),
        )
        .distinct()
    )
    hs = toks.select(
        "split",
        F.conv(F.substring(F.md5(F.concat(F.lit("v:"), F.col("tok"))), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    ).distinct()
    k = K_SETOPS
    rn = hs.withColumn("rn", F.row_number().over(W.partitionBy("split").orderBy("h")))
    kmin = cached(rn.filter(F.col("rn") <= k).select("split", "h"))
    theta = kmin.groupBy("split").agg(
        F.when(F.count(F.lit(1)) >= k, F.max("h").cast("double"))
        .otherwise(F.lit(_HASH_SPAN))
        .alias("theta"),
        F.count(F.lit(1)).alias("nk"),
    )
    est = theta.select(
        "split",
        "theta",
        F.when(F.col("nk") < k, F.col("nk").cast("double"))
        .otherwise(F.lit(float(k - 1)) * F.lit(_HASH_SPAN) / F.col("theta"))
        .alias("e"),
    )
    umin = kmin.select("h").distinct().orderBy("h").limit(k)
    uest = umin.agg(
        F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double"))
        .otherwise(F.lit(float(k - 1)) * F.lit(_HASH_SPAN) / F.max("h").cast("double"))
        .alias("e_union")
    )
    ka = kmin.filter(F.col("split") == "train").select("h")
    kb = kmin.filter(F.col("split") == "heldout").select("h")
    ea = est.filter(F.col("split") == "train").select(
        F.col("e").alias("e_a"), F.col("theta").alias("th_a")
    )
    eb = est.filter(F.col("split") == "heldout").select(
        F.col("e").alias("e_b"), F.col("theta").alias("th_b")
    )
    tmin = ea.crossJoin(eb).select(
        "e_a", "e_b", F.least("th_a", "th_b").alias("th")
    )
    common = (
        ka.join(kb, "h")
        .crossJoin(F.broadcast(tmin.select("th")))
        .filter(F.col("h") < F.col("th"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    # exact |A|, |B|, |A∩B| in ONE pass over the cached (split, tok)
    # pairs: per-token split membership flags, then a map-side-combinable
    # 1-row reduction — replaces two filtered distinct counts plus a
    # tok-keyed join (three more full passes over the trigram stream)
    # with identical values (toks is already distinct per split).
    memb = toks.groupBy("tok").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("split") == "heldout", 1).otherwise(0)).alias("in_b"),
    )
    exact = memb.agg(
        F.sum("in_a").cast("bigint").alias("exact_a"),
        F.sum("in_b").cast("bigint").alias("exact_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("exact_inter"),
    )
    return (
        exact.crossJoin(tmin)
        .crossJoin(uest)
        .crossJoin(common)
        .select(
            "exact_a",
            "exact_b",
            "exact_inter",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
            .cast("bigint")
            .alias("exact_union"),
            F.round("e_a", 6).alias("est_a"),
            F.round("e_b", 6).alias("est_b"),
            F.round("e_union", 6).alias("est_union"),
            F.round(
                F.col("n_common").cast("double") * F.lit(_HASH_SPAN) / F.col("th"), 6
            ).alias("est_inter"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection
# ---------------------------------------------------------------------------

CUSUM_TOP = 5  # report the top-N candidate changepoint days


@register(
    "x_cusum_changepoint",
    tags=("EXT", "O4", "A7", "F4"),
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        cum AS (
            SELECT day, cents,
                   CAST(SUM(cents) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS s,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
            FROM daily
        ),
        tot AS (
            SELECT CAST(SUM(cents) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM daily
        ),
        stat AS (
            SELECT day, cents, abs(n * s - i * t) AS dev
            FROM cum, tot
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, cents AS daily_cents,
               CAST(dev AS BIGINT) AS cusum_dev,
               CAST(ROW_NUMBER() OVER (ORDER BY dev DESC, day) AS INTEGER) AS rk
        FROM stat
        ORDER BY dev DESC, day LIMIT {CUSUM_TOP}
    """,
)
def x_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection (Page 1954) over the daily revenue
    series: the day maximizing |n*S_i - i*T| — the integer-scaled form
    of the classic max |S_i - (i/n)*T| mean-shift statistic (scaling by
    n clears the division, so the deviation is EXACT bigint arithmetic
    and the top-{CUSUM_TOP} candidate days hash-match the oracle). The
    monitoring-side complement to x_anomaly_zscore: z-scores flag
    single outlier days, CUSUM localizes a persistent level shift —
    the "did the corpus mix change at ingest batch k" question.

    100 TB design: the raw stream collapses to one (day) row per
    partition via partial aggregation before the window runs; the
    cumulative sum then orders only |days| rows in a single window
    partition — fine for calendar-grain series (thousands of rows);
    per-entity changepoints would add PARTITION BY entity and spread
    across the cluster. Cents are exact decimal-to-bigint, the
    deviation n*S_i - i*T stays within int64 for ~10^3.5 days of
    ~10^12-cent daily volume, and DECIMAL(38,0) is the documented
    escape hatch past that.

    Reference parity: no time-series surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT anomaly family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("bigint")
        .alias("cents")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("s"),
        F.row_number().over(W.orderBy("day")).cast("bigint").alias("i"),
    )
    tot = daily.agg(
        F.sum("cents").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    stat = cum.crossJoin(F.broadcast(tot)).select(
        "day",
        "cents",
        F.abs(F.col("n") * F.col("s") - F.col("i") * F.col("t")).alias("dev"),
    )
    return (
        stat.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("cents").alias("daily_cents"),
            F.col("dev").cast("bigint").alias("cusum_dev"),
            F.row_number()
            .over(W.orderBy(F.col("dev").desc(), "day"))
            .cast("int")
            .alias("rk"),
        )
        .orderBy(F.col("cusum_dev").desc(), "day")
        .limit(CUSUM_TOP)
    )


BOOT_B = 100  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds: P(X<=k) for k=0..5; the residual
# tail (P>5 ~ 5.9e-4) collapses to weight 6. Literal constants embedded
# identically in both engines so the draw is pure double comparisons.
BOOT_CDF: tuple[float, ...] = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def _boot_case_sql() -> str:
    branches = " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(BOOT_CDF)
    )
    return f"CASE {branches} ELSE 6 END"


@register(
    "x_poisson_bootstrap",
    tags=("EXT", "A5", "A7", "D1", "O3"),
    oracle=f"""
        WITH base AS (
            SELECT o_orderkey AS k,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents
            FROM orders
        ),
        drawn AS (
            SELECT b.range AS b, cents,
                   ('0x' || substr(md5('boot:' || CAST(b.range AS VARCHAR)
                                        || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
                       / 4294967296.0 AS u
            FROM base CROSS JOIN range({BOOT_B}) b
        ),
        reps AS (
            SELECT b,
                   CAST(SUM(w) AS BIGINT) AS sw,
                   CAST(SUM(CAST(w AS HUGEINT) * cents) AS HUGEINT) AS swc
            FROM (SELECT b, cents, {_boot_case_sql()} AS w FROM drawn)
            GROUP BY b
        ),
        means AS (
            SELECT CAST(swc AS DOUBLE) / sw AS m,
                   CAST(ROW_NUMBER() OVER (ORDER BY CAST(swc AS DOUBLE) / sw, b)
                        AS BIGINT) AS rn
            FROM reps
        ),
        pt AS (
            SELECT CAST(SUM(cents) AS HUGEINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM base
        )
        SELECT (SELECT CAST(n AS BIGINT) FROM pt) AS n_rows,
               {BOOT_B} AS n_replicates,
               (SELECT round(CAST(s AS DOUBLE) / n / 100.0, 6) FROM pt)
                   AS mean_price,
               round(MAX(CASE WHEN rn = CAST(ceil({BOOT_B} * 0.025) AS BIGINT)
                              THEN m END) / 100.0, 6) AS ci_lo,
               round(MAX(CASE WHEN rn = CAST(ceil({BOOT_B} * 0.975) AS BIGINT)
                              THEN m END) / 100.0, 6) AS ci_hi
        FROM means
    """,
)
def x_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap: a {BOOT_B}-replicate percentile CI for the
    mean order price via the POISSON bootstrap — each (row, replicate)
    pair draws an independent Poisson(1) resampling weight, the
    streaming-friendly limit of multinomial resampling (n draws of
    prob 1/n -> Poisson(1)) that needs NO global count, shuffle, or
    coordination before drawing: the uncertainty-quantification
    primitive for any pipeline metric this engine reports.

    Determinism: the uniform is the md5-derived 32-bit fraction (the
    x_hash_split family), the inverse-CDF thresholds are shared literal
    doubles, so weights are exact integers; each replicate mean is one
    IEEE division of a 128-bit exact weighted sum by an exact count,
    and the CI bounds are explicit ceil(q*B) row_number picks over the
    unique (mean, b) order.

    100 TB design: the replicate dimension explodes map-side ({BOOT_B}x
    narrow rows, never materialized wide) and partial-aggregates to
    {BOOT_B} rows BEFORE the only exchange — per-replicate state is two
    integers, so the whole bootstrap is one combiner-friendly pass over
    the fact table regardless of B; the rank window then orders
    {BOOT_B} rows. Per-segment CIs add the segment key to the groupBy
    and PARTITION BY. (Kleiner et al.'s BLB is the escape hatch when
    even {BOOT_B}x map-side amplification is too hot; same plan shape
    over subsamples.)

    Reference parity: AVG-family reporting (Queries:45-50) upgraded
    with uncertainty; SURVEY.md §2 EXT sketches family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"])
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    drawn = base.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
        "k",
    ).select(
        "b",
        "cents",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("boot:"),
                            F.col("b").cast("string"),
                            F.lit(":"),
                            F.col("k").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    w_expr = None
    for kk, t in enumerate(BOOT_CDF):
        cond = F.col("u") < F.lit(t)
        w_expr = F.when(cond, kk) if w_expr is None else w_expr.when(cond, kk)
    w_expr = w_expr.otherwise(6)
    reps = (
        drawn.select("b", "cents", w_expr.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("w").cast("bigint").alias("sw"),
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("cents"))
            .cast("decimal(38,0)")
            .alias("swc"),
        )
    )
    m = (F.col("swc").cast("double") / F.col("sw")).alias("m")
    means = reps.select(
        m, F.row_number().over(W.orderBy(m, "b")).cast("bigint").alias("rn")
    )
    pt = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(
            F.sum("cents").cast("decimal(38,0)").cast("double")
            / F.count(F.lit(1))
            / 100.0,
            6,
        ).alias("mean_price"),
    )
    import math

    lo_rn = math.ceil(BOOT_B * 0.025)
    hi_rn = math.ceil(BOOT_B * 0.975)
    ci = means.agg(
        F.round(
            F.max(F.when(F.col("rn") == lo_rn, F.col("m"))) / 100.0, 6
        ).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("rn") == hi_rn, F.col("m"))) / 100.0, 6
        ).alias("ci_hi"),
    )
    return (
        pt.crossJoin(F.broadcast(ci))
        .select(
            "n_rows",
            F.lit(BOOT_B).cast("int").alias("n_replicates"),
            "mean_price",
            "ci_lo",
            "ci_hi",
        )
    )


AMS_ROWS = 4  # CMS depth (independent hash rows)
AMS_COLS = 256  # CMS width


@register(
    "x_cms_join_size",
    tags=("EXT", "A7", "F4", "A6"),
    oracle=f"""
        WITH cms AS (
            SELECT r.range AS i,
                   ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':'
                                        || CAST(l_suppkey AS VARCHAR)), 1, 8))::BIGINT
                       % {AMS_COLS} AS j,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM lineitem CROSS JOIN range({AMS_ROWS}) r
            GROUP BY 1, 2
        ),
        est AS (
            SELECT i, CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS e
            FROM cms GROUP BY i
        ),
        exact AS (
            SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS f2
            FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
                  FROM lineitem GROUP BY l_suppkey)
        )
        SELECT CAST(f2 AS BIGINT) AS exact_selfjoin,
               CAST((SELECT MIN(e) FROM est) AS BIGINT) AS cms_estimate,
               round((CAST((SELECT MIN(e) FROM est) AS DOUBLE)
                      - CAST(f2 AS DOUBLE)) / CAST(f2 AS DOUBLE), 6)
                   AS rel_overestimate
        FROM exact
    """,
)
def x_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from a sketch: the self-join size
    (second frequency moment F2 = sum of squared key frequencies) of
    lineitem on l_suppkey, estimated as the count-min inner product
    min_i sum_j c_ij² ({AMS_ROWS}x{AMS_COLS} counters) next to the
    exact answer — the AMS-family primitive a cost-based optimizer
    uses to size a join WITHOUT executing it, and the "how skewed is
    this key" dial behind the salting/AQE decisions in x_salted_join.
    Guarantee: estimate >= truth always (collisions only add), within
    F1²/{AMS_COLS} with probability 1-2^-{AMS_ROWS}.

    Determinism: counters, squares, and both statistics are exact
    integers end-to-end (128-bit squares); the only float is the final
    relative-error division — same-tree on both engines.

    100 TB design: the sketch build is ONE partial-aggregable pass
    (map-side combine collapses to <= {AMS_ROWS}*{AMS_COLS} counter
    rows per task before the exchange — the whole point of CMS); the
    estimate reduces {AMS_ROWS} rows. The exact twin's groupBy is the
    verification oracle, not the production path. Two tables' sketches
    inner-product the same way for A⋈B sizing.

    Reference parity: no sketch surface in the reference; SURVEY.md §2
    EXT sketches family beside x_cms_heavy_hitters (which shares the
    counter layout but keeps per-key mins for point queries)."""
    li = scan_wide(spark, sf_dir, "lineitem", ["l_suppkey"])
    cms = (
        li.select(
            F.explode(F.sequence(F.lit(0), F.lit(AMS_ROWS - 1))).alias("i"),
            F.col("l_suppkey").alias("s"),
        )
        .select(
            "i",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("i").cast("string"),
                                F.lit(":"),
                                F.col("s").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % AMS_COLS
            ).alias("j"),
        )
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    est = cms.groupBy("i").agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("e")
    )
    best = est.agg(F.min("e").cast("bigint").alias("cms_estimate"))
    exact = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("bigint")
            .alias("exact_selfjoin")
        )
    )
    return (
        exact.crossJoin(F.broadcast(best))
        .select(
            "exact_selfjoin",
            "cms_estimate",
            F.round(
                (F.col("cms_estimate").cast("double") - F.col("exact_selfjoin").cast("double"))
                / F.col("exact_selfjoin").cast("double"),
                6,
            ).alias("rel_overestimate"),
        )
    )


@register(
    "x_segmented_regression",
    tags=("EXT", "O4", "A7", "F4"),
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        cum AS (
            SELECT day, cents,
                   CAST(SUM(cents) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS s,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
            FROM daily
        ),
        tot AS (
            SELECT CAST(SUM(cents) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM daily
        ),
        bp AS (
            SELECT i AS istar
            FROM cum, tot
            ORDER BY abs(n * s - i * t) DESC, day LIMIT 1
        ),
        seg AS (
            SELECT CASE WHEN c.i <= (SELECT istar FROM bp)
                        THEN 'before' ELSE 'after' END AS segment,
                   c.i AS x, c.cents AS y
            FROM cum c
        ),
        m AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS HUGEINT) AS sy,
                   CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM seg GROUP BY segment
        )
        SELECT segment, n AS n_days,
               round(CAST(sy AS DOUBLE) / n / 100.0, 6) AS mean_dollars,
               round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6)
                   AS slope_per_day
        FROM m ORDER BY segment DESC
    """,
)
def x_segmented_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented (piecewise) regression around the detected changepoint:
    split the daily-revenue series at x_cusum_changepoint's rank-1 day
    and fit an independent OLS trend to each side — the "what actually
    changed" readout that upgrades CUSUM's WHERE to a before/after
    level + slope contrast (did the shift move the mean, the trend, or
    both). Composes two already-verified recipes end to end.

    Determinism: the breakpoint is the exact-integer CUSUM argmax
    (|n*S_i - i*T|, tie-broken on day); per-segment moments are exact
    128-bit integer sums over the dense day index; each mean/slope is
    one fixed division tree (the x_rolling_slope arithmetic).

    100 TB design: partial agg to calendar grain first; the cumulative
    window and both fits run over the collapsed |days| frame (the
    breakpoint scalar broadcasts via a 1-row TakeOrdered subquery);
    per-entity segmentation adds PARTITION BY throughout.

    Reference parity: rating-trend-over-time (README.md:8) with
    structural-break awareness; SURVEY.md §2 EXT time-series family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("bigint")
        .alias("cents")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("s"),
        F.row_number().over(W.orderBy("day")).cast("bigint").alias("i"),
    )
    tot = daily.agg(
        F.sum("cents").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    dev = cum.crossJoin(F.broadcast(tot)).select(
        "day", "cents", "i", F.abs(F.col("n") * F.col("s") - F.col("i") * F.col("t")).alias("dev")
    )
    bp = (
        dev.orderBy(F.col("dev").desc(), "day")
        .limit(1)
        .select(F.col("i").alias("istar"))
    )
    seg = dev.crossJoin(F.broadcast(bp)).select(
        F.when(F.col("i") <= F.col("istar"), F.lit("before"))
        .otherwise(F.lit("after"))
        .alias("segment"),
        F.col("i").alias("x"),
        F.col("cents").alias("y"),
    )
    m = seg.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx").cast("decimal(38,0)") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        "segment",
        F.col("n").alias("n_days"),
        F.round(F.col("sy").cast("double") / F.col("n") / 100.0, 6).alias("mean_dollars"),
        F.round(num / den / 100.0, 6).alias("slope_per_day"),
    ).orderBy(F.col("segment").desc())
