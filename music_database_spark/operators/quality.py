"""Data-quality operators (EXT): column profiling and statistical
outlier detection — the screening pass any 100 TB ingest runs before the
corpus-prep pipeline (operators/pipeline.py) trusts the data.

Scale notes:
* x_profile is ONE aggregation pass computing every column's metrics
  simultaneously; the exact multi-column COUNT(DISTINCT) plans as one
  Expand (x5 rows, map-side) + partial aggregation — no per-column
  re-scan. At 100 TB swap the exact distincts for approx_count_distinct
  (HLL partials merge associatively); the query shape is unchanged.
* x_outliers is two passes: a per-group partial-agg for the moment
  statistics (decimal-exact, so cross-engine deterministic), broadcast
  back over the stream for the z-scores. No window over the full table,
  no sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..plans.relational import _t
from ..registry import register
from ..sources.loader import scan_wide
from .ranking import two_level_rank
from ..session import cached

# (column, kind) pairs profiled over orders; kind picks the min/max
# string rendering that is bit-identical across Spark and DuckDB.
PROFILE_COLS: tuple[tuple[str, str], ...] = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_totalprice", "money"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "str"),
)


def _minmax_sql(col: str, kind: str, fn: str) -> str:
    if kind == "bigint":
        return f"CAST({fn}({col}) AS VARCHAR)"
    if kind == "money":
        return f"CAST(CAST({fn}({col}) AS DECIMAL(18,2)) AS VARCHAR)"
    if kind == "date":
        return f"strftime({fn}({col}), '%Y-%m-%d')"
    return f"{fn}({col})"


def _profile_oracle() -> str:
    blocks = []
    for col, kind in PROFILE_COLS:
        blocks.append(
            f"SELECT '{col}' AS col_name,"
            f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,"
            f" CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,"
            f" {_minmax_sql(col, kind, 'MIN')} AS min_str,"
            f" {_minmax_sql(col, kind, 'MAX')} AS max_str"
            f" FROM orders"
        )
        # DuckDB folds the five scans into one; the UNION ALL is for
        # clarity, the Spark side is genuinely single-pass.
    return " UNION ALL ".join(blocks) + " ORDER BY col_name"


def _minmax_spark(col: str, kind: str, fn) -> F.Column:
    if kind == "bigint":
        return fn(col).cast("string")
    if kind == "money":
        return fn(col).cast("decimal(18,2)").cast("string")
    if kind == "date":
        return F.date_format(fn(col), "yyyy-MM-dd")
    return fn(col)


@register("x_profile", tags=("EXT", "A1", "A6", "F7"), oracle=_profile_oracle())
def x_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling: per profiled column of orders — row count, null
    count, exact distinct count, and min/max rendered to a canonical
    string per type (bigints plain, money via DECIMAL(18,2), dates
    yyyy-MM-dd). The long-format output is built by aggregating every
    column's metrics in ONE pass and exploding the wide row into
    (col_name, metrics) structs driver-side-free.

    This is the profiling sweep a data contract check runs per partition
    drop; at 100 TB the exact COUNT(DISTINCT x5) becomes
    approx_count_distinct to avoid the Expand blowup, everything else is
    identical (see module docstring)."""
    orders = scan_wide(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for col, kind in PROFILE_COLS:
        aggs.append(F.sum(F.col(col).isNull().cast("bigint")).alias(f"null_{col}"))
        aggs.append(F.count_distinct(F.col(col)).cast("bigint").alias(f"nd_{col}"))
        aggs.append(_minmax_spark(col, kind, F.min).alias(f"min_{col}"))
        aggs.append(_minmax_spark(col, kind, F.max).alias(f"max_{col}"))
    wide = orders.agg(*aggs)
    structs = [
        F.struct(
            F.lit(col).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"null_{col}").alias("n_null"),
            F.col(f"nd_{col}").alias("n_distinct"),
            F.col(f"min_{col}").alias("min_str"),
            F.col(f"max_{col}").alias("max_str"),
        )
        for col, _ in PROFILE_COLS
    ]
    return (
        wide.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


Z_THRESHOLD = 3.0  # |z| above which an event value is an outlier


@register(
    "x_outliers",
    tags=("EXT", "A5", "J5", "F4"),
    oracle=f"""
        WITH stats AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mean,
                   CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sumsq
            FROM events WHERE value IS NOT NULL GROUP BY event_type
        ),
        scored AS (
            SELECT e.event_type,
                   round(abs((e.value - s.mean)
                             / sqrt(GREATEST((s.sumsq - s.mean * s.mean * s.n) / s.n,
                                             1e-300))), 6) AS az
            FROM events e JOIN stats s ON e.event_type = s.event_type
            WHERE e.value IS NOT NULL
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN az > {Z_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_outliers,
               MAX(az) AS max_abs_z
        FROM scored GROUP BY event_type ORDER BY event_type
    """,
)
def x_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier screen: per event_type, population z-score of
    every event value against the type's own mean/stddev; reports the
    event count, how many land beyond |z| > {Z}, and the max |z|.

    Determinism across engines despite float math: the moments accumulate
    in DECIMAL (exact, order-independent), collapse to double once, and
    every downstream op (subtract, divide, sqrt, round-6) is identical
    IEEE arithmetic on identical inputs. Variance uses the
    sum-of-squares identity so ONE partial-aggregable pass computes all
    moments; the stats side (5 rows) broadcasts back onto the stream.
    At 100 TB: partial agg + broadcast join — no shuffle of the events
    table at all, the exact shape anomaly screens need."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("value").cast("decimal(27,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,12)"))
        .cast("double")
        .alias("sumsq"),
    )
    sd = F.sqrt(
        F.greatest(
            (F.col("sumsq") - F.col("mean") * F.col("mean") * F.col("n")) / F.col("n"),
            F.lit(1e-300),
        )
    )
    scored = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.round(F.abs((F.col("value") - F.col("mean")) / sd), 6).alias("az"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum((F.col("az") > Z_THRESHOLD).cast("bigint"))
            .cast("bigint")
            .alias("n_outliers"),
            F.max("az").alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


LM_TRAIN_BUCKET = 80  # md5 bucket < this trains the LM (same split as x_hash_split)


@register(
    "x_ngram_lm_score",
    tags=("EXT", "X4", "F3", "A1", "F5"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER
                       % 100 AS bucket,
                   list_filter(string_split(text, ' '), t -> t <> '') AS ts
            FROM documents
        ),
        train_tok AS (
            SELECT unnest(ts) AS w FROM toks WHERE bucket < {LM_TRAIN_BUCKET}
        ),
        uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM train_tok GROUP BY w),
        vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
        train_big AS (
            SELECT ts[i] AS w1, ts[i + 1] AS w2
            FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
                  FROM toks WHERE bucket < {LM_TRAIN_BUCKET} AND len(ts) >= 2) t
        ),
        big AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
            FROM train_big GROUP BY w1, w2
        ),
        eval_big AS (
            SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
            FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
                  FROM toks WHERE bucket >= {LM_TRAIN_BUCKET} AND len(ts) >= 2) t
        ),
        scored AS (
            SELECT e.doc_id,
                   ln(COALESCE(b.c2, 0) + 1)
                       - ln(COALESCE(u.c1, 0) + v) AS lp
            FROM eval_big e
            LEFT JOIN big b ON b.w1 = e.w1 AND b.w2 = e.w2
            LEFT JOIN uni u ON u.w = e.w1, vocab
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               round(-list_aggregate(list_sort(list(lp)), 'sum') / COUNT(*), 6)
                   AS nll
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def x_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity quality scoring (the CCNet recipe, public:
    Wenzek et al. 2020): train add-one-smoothed bigram counts on the
    deterministic train split (md5 bucket < LM_TRAIN_BUCKET, the same
    split rule as x_hash_split), then score every held-out document by
    its average negative log-likelihood — low nll reads like the
    training distribution, high nll is noise/boilerplate/other-language.
    p(w2|w1) = (c2(w1,w2) + 1) / (c1(w1) + V) with c1 counting all train
    token occurrences and V the train vocabulary size (both defined
    identically in the oracle).

    Float determinism: each document folds a SORTED array of per-bigram
    log terms (the x_token_entropy recipe) so partial-sum order cannot
    perturb the double; the result is rounded to 6 digits.

    100 TB design: counts are classic map-side-combinable groupBys keyed
    by token digests; scoring is two hash joins of the eval bigram
    stream against the count tables — the unigram side is
    vocabulary-sized (broadcastable), the bigram side shuffles on
    (w1, w2). The per-doc fold is bounded by document length. No Python
    anywhere. Reference parity: no such surface in the reference
    (SURVEY.md §2.10 X4 mandate).
    """
    docs = _t(spark, sf_dir, "documents")
    # has2 = ">= 2 nonempty tokens" precomputed as a raw-text regex so
    # the bigram branches never filter on size(ts) — which would inline
    # the token HOF into an interpreted Predicate (round-9 HOF-in-Filter
    # lint class, tools/planaudit.py lint (c)).
    toks = docs.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("int")
            % 100
        ).alias("bucket"),
        F.expr("filter(split(text, ' '), t -> t != '')").alias("ts"),
        F.col("text").rlike("[^ ] +[^ ]").alias("has2"),
    )
    train = toks.filter(F.col("bucket") < LM_TRAIN_BUCKET)
    uni = (
        train.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    bigrams = F.expr(
        "transform(sequence(1, size(ts) - 1),"
        " i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"
    )
    big = (
        train.filter("has2")
        .select(F.explode(bigrams).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    eval_big = (
        toks.filter((F.col("bucket") >= LM_TRAIN_BUCKET) & F.col("has2"))
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )
    scored = (
        eval_big.join(big, ["w1", "w2"], "left")
        .join(
            F.broadcast(uni.withColumnRenamed("w", "w1")), "w1", "left"
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                F.log(F.coalesce(F.col("c2"), F.lit(0)) + 1)
                - F.log(F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sort_array(F.collect_list("lp")).alias("lps"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                -F.aggregate("lps", F.lit(0.0), lambda acc, x: acc + x)
                / F.col("n_bigrams"),
                6,
            ).alias("nll"),
        )
        .orderBy("doc_id")
    )


@register(
    "x_gini_concentration",
    tags=("EXT", "X4", "A1", "A7", "O3"),
    oracle="""
        WITH per_source AS (
            SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY lang, source
        ),
        ranked AS (
            SELECT lang, chars,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY chars, source) AS i
            FROM per_source
        ),
        sums AS (
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_sources,
                   CAST(SUM(chars) AS BIGINT) AS total_chars,
                   CAST(SUM(i * chars) AS BIGINT) AS weighted
            FROM ranked GROUP BY lang
        )
        SELECT lang, n_sources, total_chars,
               CAST(2 * weighted - (n_sources + 1) * total_chars AS DOUBLE)
                   / CAST(n_sources * total_chars AS DOUBLE) AS gini
        FROM sums ORDER BY lang
    """,
)
def x_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-concentration Gini coefficient per language — the
    corpus-diversity dial a mixture owner watches: 0 = every source
    contributes equal characters, ->1 = one source dominates (and
    x_domain_cap is the intervention). Uses the rank formulation
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending-
    sorted shares: every term is an exact integer (ranks tie-break on
    source name; equal shares make sum(i*x_i) permutation-invariant),
    and the single final division is the only float op — oracle-exact.

    100 TB design: per-(lang, source) partial-agg collapse first (the
    corpus scan), then a rank window over the SOURCE list (thousands of
    rows, not documents) and a per-lang rollup — the heavy key is
    aggregated away before any window. Reference parity: no corpus
    surface in the reference (SURVEY.md §2.10 X4 mandate)."""
    docs = _t(spark, sf_dir, "documents")
    per_source = docs.groupBy("lang", "source").agg(
        F.sum("n_chars").cast("bigint").alias("chars")
    )
    w = W.partitionBy("lang").orderBy("chars", "source")
    ranked = per_source.select(
        "lang", "chars", F.row_number().over(w).alias("i")
    )
    sums = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.sum("chars").cast("bigint").alias("total_chars"),
        F.sum(F.col("i") * F.col("chars")).cast("bigint").alias("weighted"),
    )
    gini = (
        2 * F.col("weighted") - (F.col("n_sources") + 1) * F.col("total_chars")
    ).cast("double") / (F.col("n_sources") * F.col("total_chars")).cast("double")
    return sums.select(
        "lang", "n_sources", "total_chars", gini.alias("gini")
    ).orderBy("lang")


K_ANON = 5  # minimum acceptable quasi-identifier group size


@register(
    "x_kanonymity",
    tags=("EXT", "A1", "J1", "F7"),
    oracle=f"""
        WITH qid AS (
            SELECT c.c_custkey, n.n_name AS nation, n.n_regionkey AS regionkey,
                   c.c_mktsegment AS segment
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        ),
        l0 AS (
            SELECT nation, segment, CAST(COUNT(*) AS BIGINT) AS n
            FROM qid GROUP BY nation, segment
        ),
        viol0 AS (SELECT nation, segment FROM l0 WHERE n < {K_ANON}),
        promoted AS (
            SELECT q.regionkey, q.segment, CAST(COUNT(*) AS BIGINT) AS n
            FROM qid q JOIN viol0 v ON q.nation = v.nation AND q.segment = v.segment
            GROUP BY q.regionkey, q.segment
        ),
        lvl AS (
            SELECT 0 AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(SUM(CASE WHEN n >= {K_ANON} THEN n ELSE 0 END) AS BIGINT)
                       AS n_rows_anonymous,
                   CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT)
                       AS n_rows_at_risk
            FROM l0
            UNION ALL
            SELECT 1, CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN n >= {K_ANON} THEN n ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT)
            FROM promoted
        )
        SELECT level, n_groups, n_rows_anonymous, n_rows_at_risk
        FROM lvl ORDER BY level
    """,
)
def x_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit with one generalization step — the
    privacy gate run before person-derived training data is released:
    quasi-identifier groups (nation, market segment) smaller than
    K_ANON re-identify their members, so violating rows are GENERALIZED
    (nation -> region, the standard value-generalization-hierarchy
    move) and re-checked; whatever still violates is the residual that
    must be suppressed. Output: per generalization level, group count
    and anonymous-vs-at-risk row mass.

    100 TB design: level 0 is one partial-aggregable groupBy; the
    promotion join touches only rows of violating groups (semi-join on
    the tiny violator list, broadcast); the hierarchy could ladder
    region -> country-group -> * with one such step per level, each
    strictly smaller than the last. Integer counts only."""
    customer = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    qid = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.col("n_regionkey").alias("regionkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    l0 = qid.groupBy("nation", "segment").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    viol0 = l0.filter(F.col("n") < K_ANON).select("nation", "segment")
    promoted = (
        qid.join(F.broadcast(viol0), ["nation", "segment"])
        .groupBy("regionkey", "segment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )

    def level_summary(df: DataFrame, level: int) -> DataFrame:
        return df.agg(
            F.lit(level).alias("level"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("n") >= K_ANON, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_rows_anonymous"),
            F.sum(F.when(F.col("n") < K_ANON, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_rows_at_risk"),
        )

    return level_summary(l0, 0).unionByName(level_summary(promoted, 1)).orderBy("level")


# Expectations: (name, table) -> violation predicate, evaluated in one
# aggregate pass per table + two join-based checks.
EXPECT_RANGE_QTY = (1, 50)


@register(
    "x_expectations",
    tags=("EXT", "A1", "J4", "P4", "F7"),
    oracle=f"""
        WITH li AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN l_quantity < {EXPECT_RANGE_QTY[0]}
                                   OR l_quantity > {EXPECT_RANGE_QTY[1]}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
                   CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS v_ship,
                   CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS v_disc
            FROM lineitem
        ),
        od AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS v_price
            FROM orders
        ),
        orphan AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS v
            FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL
        ),
        dup AS (
            SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS v
            FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY o_orderkey
                  HAVING COUNT(*) > 1) d
        )
        SELECT * FROM (
            SELECT 'lineitem_quantity_in_range' AS check_name, li.n AS n_checked,
                   li.v_qty AS n_violations, li.v_qty = 0 AS passed FROM li
            UNION ALL
            SELECT 'lineitem_shipdate_not_null', li.n, li.v_ship, li.v_ship = 0 FROM li
            UNION ALL
            SELECT 'lineitem_discount_unit_interval', li.n, li.v_disc, li.v_disc = 0 FROM li
            UNION ALL
            SELECT 'orders_totalprice_positive', od.n, od.v_price, od.v_price = 0 FROM od
            UNION ALL
            SELECT 'lineitem_orderkey_references_orders',
                   li.n, orphan.v, orphan.v = 0 FROM li, orphan
            UNION ALL
            SELECT 'orders_orderkey_unique', od.n, dup.v, dup.v = 0 FROM od, dup
        ) checks
        ORDER BY check_name
    """,
)
def x_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the Great
    Expectations / dbt-test shape): range, not-null, unit-interval,
    positivity, referential-integrity, and uniqueness checks evaluated
    in bulk, reported as (check, n_checked, n_violations, passed) — the
    go/no-go gate an ingest runs before any downstream pipeline trusts
    a drop.

    100 TB design: all per-row predicates for one table fold into ONE
    partial-aggregable scan (conditional sums — no per-check re-scan);
    referential integrity is a null-producing left join aggregated to
    a scalar, and uniqueness is a groupBy-HAVING on the key. Output is
    six integer rows regardless of input size."""
    li = scan_wide(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_quantity", "l_shipdate", "l_discount"]
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li_agg = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                (F.col("l_quantity") < EXPECT_RANGE_QTY[0])
                | (F.col("l_quantity") > EXPECT_RANGE_QTY[1]),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("v_qty"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("v_ship"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("v_disc"),
    )
    od_agg = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("v_price"),
    )
    orphan = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    dup = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("bigint").alias("v"))
    )
    # One lazy plan, no driver collects: each check row is a projection
    # of a 1-row aggregate frame; crossJoins glue 1-row frames only.
    li_agg = cached(li_agg)  # three check rows project from it

    def check(src: DataFrame, name: str, n_col: str, v_col: str) -> DataFrame:
        return src.select(
            F.lit(name).alias("check_name"),
            F.col(n_col).alias("n_checked"),
            F.col(v_col).alias("n_violations"),
            (F.col(v_col) == 0).alias("passed"),
        )

    out = (
        check(li_agg, "lineitem_quantity_in_range", "n", "v_qty")
        .unionByName(check(li_agg, "lineitem_shipdate_not_null", "n", "v_ship"))
        .unionByName(check(li_agg, "lineitem_discount_unit_interval", "n", "v_disc"))
        .unionByName(check(od_agg, "orders_totalprice_positive", "n", "v_price"))
        .unionByName(
            check(
                li_agg.crossJoin(orphan), "lineitem_orderkey_references_orders", "n", "v"
            )
        )
        .unionByName(check(od_agg.crossJoin(dup), "orders_orderkey_unique", "n", "v"))
    )
    return out.orderBy("check_name")


KAPPA_LEN_MIN = 600  # annotator A: acceptable if n_chars >= this
KAPPA_STOP_PCT = 4  # annotator B: acceptable if stopword % >= this


@register(
    "x_kappa",
    tags=("EXT", "A1", "F4", "F7"),
    oracle=f"""
        WITH labeled AS (
            SELECT CASE WHEN n_chars >= {KAPPA_LEN_MIN} THEN 1 ELSE 0 END AS a,
                   CASE WHEN 100 * len(list_filter(string_split(text, ' '),
                            t -> list_contains(['the','a','of','and','to','in','is','that'], t)))
                        >= {KAPPA_STOP_PCT} * len(string_split(text, ' '))
                        THEN 1 ELSE 0 END AS b
            FROM documents
        ),
        c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(a * b) AS BIGINT) AS n11,
                   CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
                   CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
                   CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
            FROM labeled
        )
        SELECT n, n11, n10, n01, n00,
               round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_observed,
               round((CAST((n11 + n10) AS DOUBLE) * CAST((n11 + n01) AS DOUBLE)
                      + CAST((n01 + n00) AS DOUBLE) * CAST((n10 + n00) AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS p_expected,
               round((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST((n11 + n10) AS DOUBLE) * CAST((n11 + n01) AS DOUBLE)
                         + CAST((n01 + n00) AS DOUBLE) * CAST((n10 + n00) AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                     / (1.0 - (CAST((n11 + n10) AS DOUBLE) * CAST((n11 + n01) AS DOUBLE)
                               + CAST((n01 + n00) AS DOUBLE) * CAST((n10 + n00) AS DOUBLE))
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS kappa
        FROM c
    """,
)
def x_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (Cohen's kappa, 1960) between two
    deterministic quality labelers — the label-audit metric a
    human-in-the-loop pipeline computes before trusting annotations
    (here: a length-based and a stopword-density-based 'annotator'
    judging doc quality; chance-corrected agreement tells you whether
    two heuristics measure the same thing or just the base rate). Full
    2x2 contingency table + observed/expected agreement + kappa, every
    float derived from one fixed IEEE tree over exact integer counts
    -> the statistic itself is hash-checked.

    100 TB design: one conditional-sum scan (both labels are map-side
    expressions), one 1-row aggregate; nothing scales with corpus size
    but the scan. The stopword test uses the integer cross-multiplied
    threshold (100*hits >= pct*tokens), no float compare."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_list = F.array(
        *[F.lit(w) for w in ["the", "a", "of", "and", "to", "in", "is", "that"]]
    )
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_list, t)))
    a = F.when(F.col("n_chars") >= KAPPA_LEN_MIN, 1).otherwise(0)
    b = F.when(hits * 100 >= F.size(toks) * KAPPA_STOP_PCT, 1).otherwise(0)
    c = docs.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pe = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01")).cast("double")
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00")).cast("double")
    ) / (nd * nd)
    return c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


L_DIV = 3  # minimum acceptable distinct-sensitive-value count per QID group
LDIV_BAND = 2000.0  # account-balance band width (the sensitive attribute)


@register(
    "x_l_diversity",
    tags=("EXT", "A1", "A6", "J1"),
    oracle=f"""
        WITH qid AS (
            SELECT n.n_name AS nation, c.c_mktsegment AS segment,
                   CAST(floor(c.c_acctbal / {LDIV_BAND}) AS INTEGER) AS band
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        ),
        grp AS (
            SELECT nation, segment,
                   CAST(COUNT(DISTINCT band) AS BIGINT) AS diversity,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM qid GROUP BY nation, segment
        )
        SELECT diversity,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows,
               diversity >= {L_DIV} AS meets_l
        FROM grp GROUP BY diversity ORDER BY diversity
    """,
)
def x_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-diversity audit (Machanavajjhala et al., ICDE'06) — the
    homogeneity-attack complement to x_kanonymity: a quasi-identifier
    group can be large (k-anonymous) yet leak its members' sensitive
    attribute if every member shares one value. QID = (nation, market
    segment); sensitive attribute = account-balance band (width
    LDIV_BAND). Output: the diversity histogram — for each distinct
    per-group sensitive-value count, how many groups and rows sit
    there, and whether that level meets L_DIV (distinct l-diversity).

    100 TB design: one partial-aggregable groupBy computes per-group
    COUNT(DISTINCT band) (low-cardinality distinct -> Expand +
    map-side partials, like x_profile), then a second tiny groupBy over
    |groups| rows builds the histogram. Integer counts and an
    integer band (floor of one IEEE double division, identical on both
    engines) only — nothing float crosses a partition sum. The banding
    IS the generalization hierarchy step, so promoting to wider bands
    (the x_kanonymity level-1 move) reuses the same plan shape.

    Reference parity: no privacy surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT mandate, privacy family
    alongside x_kanonymity and x_redact."""
    customer = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    qid = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / F.lit(LDIV_BAND)).cast("int").alias("band"),
    )
    grp = qid.groupBy("nation", "segment").agg(
        F.countDistinct("band").cast("bigint").alias("diversity"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    return (
        grp.groupBy("diversity")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
        )
        .select(
            "diversity",
            "n_groups",
            "n_rows",
            (F.col("diversity") >= L_DIV).alias("meets_l"),
        )
        .orderBy("diversity")
    )


@register(
    "x_chi2_independence",
    tags=("EXT", "A1", "O4", "F4"),
    oracle="""
        WITH joined AS (
            SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        cells AS (
            SELECT segment, priority, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM joined GROUP BY segment, priority
        ),
        marg AS (
            SELECT segment, priority, n_obs,
                   CAST(SUM(n_obs) OVER (PARTITION BY segment) AS BIGINT) AS n_i,
                   CAST(SUM(n_obs) OVER (PARTITION BY priority) AS BIGINT) AS n_j,
                   CAST(SUM(n_obs) OVER () AS BIGINT) AS n
            FROM cells
        ),
        contrib AS (
            SELECT segment, priority, n_obs,
                   CAST(n_i * n_j * 1000 // n AS BIGINT) AS expected_milli,
                   CAST(CAST(n * n_obs - n_i * n_j AS HUGEINT)
                        * (n * n_obs - n_i * n_j) AS DOUBLE)
                       / CAST(n * n_i * n_j AS DOUBLE) AS chi2_term,
                   CASE WHEN n_obs = 0 THEN 0.0
                        ELSE (CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE))
                             * log2(CAST(n * n_obs AS DOUBLE)
                                    / CAST(n_i * n_j AS DOUBLE))
                   END AS mi_term
            FROM marg
        )
        SELECT segment, priority, n_obs, expected_milli,
               round(CAST(SUM(chi2_term) OVER w AS DOUBLE), 6) AS chi2_cum,
               round(CAST(SUM(mi_term) OVER w AS DOUBLE), 6) AS mi_bits_cum
        FROM contrib
        WINDOW w AS (ORDER BY segment, priority
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY segment, priority
    """,
)
def x_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independence tests over the (market segment x order priority)
    contingency table: per-cell Pearson chi-square contributions and
    mutual-information terms, accumulated as CUMULATIVE window sums in
    a fixed cell order so the order-dependent float folds are
    engine-identical (the x_ndcg recipe) — the last row's chi2_cum /
    mi_bits_cum ARE the test statistic and the MI in bits. The
    feature-selection / leakage screen a training pipeline runs over
    (label, metadata) pairs: MI near zero clears a metadata column of
    label leakage, large chi-square flags confounded sampling.

    Determinism: chi-square terms clear the expected-count division
    exactly — (n*O - n_i*n_j)^2 / (n*n_i*n_j) over 128-bit integer
    products (Spark DECIMAL(38,0), DuckDB HUGEINT) with one double
    division per cell; MI terms are one division + log2 + multiply per
    cell (log2 is engine-portable here, pinned by x_ndcg/x_ngram_lm_score);
    the folds run left-to-right in (segment, priority) order on both
    engines.

    100 TB design: the fact join partial-aggregates to r*c cells
    before any window; marginals are window sums over those r*c rows,
    not re-scans; everything after the first groupBy is O(cells).
    Reference parity: no statistics surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT quality family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_custkey", "o_orderpriority"])
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    marg = cells.select(
        "segment",
        "priority",
        "n_obs",
        F.sum("n_obs").over(W.partitionBy("segment")).cast("bigint").alias("n_i"),
        F.sum("n_obs").over(W.partitionBy("priority")).cast("bigint").alias("n_j"),
        F.sum("n_obs").over(W.partitionBy()).cast("bigint").alias("n"),
    )
    dev = F.col("n") * F.col("n_obs") - F.col("n_i") * F.col("n_j")
    chi2_term = (dev.cast("decimal(38,0)") * dev).cast("double") / (
        F.col("n") * F.col("n_i") * F.col("n_j")
    ).cast("double")
    mi_term = F.when(F.col("n_obs") == 0, F.lit(0.0)).otherwise(
        (F.col("n_obs").cast("double") / F.col("n").cast("double"))
        * F.log2(
            (F.col("n") * F.col("n_obs")).cast("double")
            / (F.col("n_i") * F.col("n_j")).cast("double")
        )
    )
    contrib = marg.select(
        "segment",
        "priority",
        "n_obs",
        F.expr("CAST(n_i * n_j * 1000 div n AS BIGINT)").alias("expected_milli"),
        chi2_term.alias("chi2_term"),
        mi_term.alias("mi_term"),
    )
    w = W.orderBy("segment", "priority").rowsBetween(W.unboundedPreceding, W.currentRow)
    return contrib.select(
        "segment",
        "priority",
        "n_obs",
        "expected_milli",
        F.round(F.sum("chi2_term").over(w), 6).alias("chi2_cum"),
        F.round(F.sum("mi_term").over(w), 6).alias("mi_bits_cum"),
    ).orderBy("segment", "priority")


@register(
    "x_benford",
    tags=("EXT", "A1", "F3", "F4"),
    oracle="""
        WITH digits AS (
            SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                     AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS d
            FROM orders
        ),
        cnt AS (
            SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt)
        SELECT d AS digit, n,
               CAST(n * 1000000 // total AS BIGINT) AS obs_ppm,
               round(log10(1.0 + 1.0 / CAST(d AS DOUBLE)), 6) AS benford_freq,
               round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
                     - log10(1.0 + 1.0 / CAST(d AS DOUBLE)), 6) AS deviation
        FROM cnt, tot ORDER BY digit
    """,
)
def x_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order totals —
    the classic fabricated-data / broken-generator screen (a synthetic
    or truncated money column deviates hard from log10(1+1/d)). The
    first digit is extracted through EXACT integer cents (decimal cast,
    *100, to string), never float log10 of the value itself — which
    dodges the 10^k boundary cases where log10 rounding misclassifies
    the digit. Observed frequencies are exact integer ppm; the Benford
    reference and deviation are one log10 + division tree per digit
    row, identical on both engines.

    100 TB design: one map-side digit expression + a 9-group partial
    aggregation; the totals join is a 1-row broadcast. Nothing scales
    past the scan.

    Reference parity: no audit surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT quality family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_totalprice"])
    digits = orders.select(
        F.substring(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("d")
    )
    cnt = digits.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cnt.agg(F.sum("n").cast("bigint").alias("total"))
    benford = F.log10(1.0 + 1.0 / F.col("d").cast("double"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            "n",
            F.expr("CAST(n * 1000000 div total AS BIGINT)").alias("obs_ppm"),
            F.round(benford, 6).alias("benford_freq"),
            F.round(
                F.col("n").cast("double") / F.col("total").cast("double") - benford, 6
            ).alias("deviation"),
        )
        .orderBy("digit")
    )


@register(
    "x_simpson_diversity",
    tags=("EXT", "A1", "A7", "F4"),
    oracle="""
        WITH lc AS (
            SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY source, lang
        ),
        agg AS (
            SELECT source,
                   CAST(SUM(n) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_langs,
                   CAST(SUM(n * (n - 1)) AS BIGINT) AS same_pairs
            FROM lc GROUP BY source
        )
        SELECT source, n_docs, n_langs,
               round(1.0 - CAST(same_pairs AS DOUBLE)
                           / CAST(n_docs * (n_docs - 1) AS DOUBLE), 6)
                   AS simpson_index
        FROM agg ORDER BY source
    """,
)
def x_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson diversity index (1 - sum n_i(n_i-1)/(N(N-1))) of the
    language mix per corpus source — the probability two random docs
    from a source differ in language; the mix-health gate a multilingual
    corpus drop must clear (a 'web' source collapsing toward one
    language is a crawler regression even when volume holds). The
    complement view to x_gini_concentration's inequality measure.

    Numerator and denominator are exact bigint pair counts, so the only
    float op is one division + subtract + round per source row —
    hash-deterministic with no decimal machinery.

    100 TB design: one partial-aggregable (source, lang) groupBy
    collapses the corpus to cells, then a per-source groupBy over cells;
    both shuffle digest-sized rows. Exact by construction at any scale
    (no sampling), unlike entropy-based mixes that need log tables.

    Reference parity: genre-mix analyses (README.md:8) are the closest
    reference surface; SURVEY.md §2 EXT quality family."""
    docs = _t(spark, sf_dir, "documents").select("source", "lang")
    lc = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    agg = lc.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("bigint").alias("same_pairs"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_langs",
        F.round(
            1.0
            - F.col("same_pairs").cast("double")
            / (F.col("n_docs") * (F.col("n_docs") - 1)).cast("double"),
            6,
        ).alias("simpson_index"),
    ).orderBy("source")


DP_EPSILON = 1.0  # privacy budget; sensitivity of a count is 1 -> scale b = 1/eps
DP_SEED_TAG = "dpv1"  # versioned seed namespace for the deterministic exhibit


@register(
    "x_dp_noisy_counts",
    tags=("EXT", "A1", "F3", "F4"),
    oracle=f"""
        WITH cnt AS (
            SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n
            FROM customer GROUP BY c_mktsegment
        ),
        seeded AS (
            SELECT segment, n,
                   (CAST('0x' || substr(md5(segment || '|{DP_SEED_TAG}'), 1, 8)
                         AS BIGINT) + 0.5) / 4294967296.0 AS u,
                   CASE WHEN CAST('0x' || substr(md5(segment || '|{DP_SEED_TAG}'), 9, 1)
                             AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
            FROM cnt
        )
        SELECT segment,
               round(CAST(n AS DOUBLE) + sgn * (-(1.0 / {DP_EPSILON}) * ln(u)), 6)
                   AS noisy_count,
               CAST({DP_EPSILON} AS DOUBLE) AS epsilon
        FROM seeded ORDER BY segment
    """,
)
def x_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of per-segment customer counts:
    Laplace mechanism with scale b = sensitivity/epsilon —
    the aggregate-release gate closing the privacy family (x_redact
    masks rows, x_kanonymity/x_l_diversity audit groups, this perturbs
    the published statistic). Laplace noise is built as a signed
    exponential (sign * Exp(b) ~ Laplace(b)) from an md5-derived
    uniform — the engine-portable hash family (see x_hash_split) — so
    this TEST-MODE exhibit is deterministic and hash-checked end to
    end; production swaps the seeded uniform for a CSPRNG draw per
    release, everything else unchanged. ln() portability is already
    pinned by x_ngram_lm_score's oracle-checked log expressions.

    100 TB design: one partial-aggregable groupBy + map-side noise
    expressions over |groups| rows; noise cost is independent of data
    volume (that is the point of output perturbation vs input
    perturbation).

    Reference parity: no privacy surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT privacy family."""
    customer = _t(spark, sf_dir, "customer").select("c_mktsegment")
    cnt = customer.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    seed = F.md5(F.concat(F.col("segment"), F.lit(f"|{DP_SEED_TAG}")))
    u = (
        F.conv(F.substring(seed, 1, 8), 16, 10).cast("bigint") + 0.5
    ) / 4294967296.0
    sgn = F.when(
        F.conv(F.substring(seed, 9, 1), 16, 10).cast("bigint") % 2 == 0, 1.0
    ).otherwise(-1.0)
    return cnt.select(
        "segment",
        F.round(
            F.col("n").cast("double") + sgn * (-(1.0 / DP_EPSILON) * F.log(u)), 6
        ).alias("noisy_count"),
        F.lit(DP_EPSILON).alias("epsilon"),
    ).orderBy("segment")


WINSOR_LO_PCT, WINSOR_HI_PCT = 5, 95  # clip tails at p05 / p95


@register(
    "x_winsorize",
    tags=("EXT", "A5", "O3", "F7"),
    oracle=f"""
        WITH v AS (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type ORDER BY value)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events WHERE value IS NOT NULL
        ),
        cuts AS (
            SELECT event_type,
                   MAX(CASE WHEN rn = ({WINSOR_LO_PCT} * n + 99) // 100
                            THEN value END) AS p_lo,
                   MAX(CASE WHEN rn = ({WINSOR_HI_PCT} * n + 99) // 100
                            THEN value END) AS p_hi
            FROM v GROUP BY event_type
        ),
        clipped AS (
            SELECT v.event_type,
                   CASE WHEN value < p_lo THEN p_lo
                        WHEN value > p_hi THEN p_hi ELSE value END AS cv,
                   CASE WHEN value < p_lo THEN 1 ELSE 0 END AS lo,
                   CASE WHEN value > p_hi THEN 1 ELSE 0 END AS hi
            FROM v JOIN cuts ON v.event_type = cuts.event_type
        )
        SELECT c.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               round(p_lo, 6) AS p_lo, round(p_hi, 6) AS p_hi,
               CAST(SUM(lo) AS BIGINT) AS n_clipped_lo,
               CAST(SUM(hi) AS BIGINT) AS n_clipped_hi,
               round(CAST(SUM(CAST(cv AS DECIMAL(27,12))) AS DOUBLE)
                     / COUNT(*), 6) AS winsorized_mean
        FROM clipped c JOIN cuts ON c.event_type = cuts.event_type
        GROUP BY c.event_type, p_lo, p_hi
        ORDER BY c.event_type
    """,
)
def x_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (tail-clipped) robust mean per event type: values
    below p05 / above p95 are clamped to the cut values before
    averaging — the heavy-tail-resistant center estimate screens use
    when x_outliers shows the plain mean is hostage to a few extremes.
    The discrete percentiles are defined by an EXPLICIT engine-shared
    formula (value at row ceil(q*n) of the per-type value order =
    MAX over the matching row_number) rather than each engine's
    percentile builtin — dodging the CONT/DISC and interpolation
    divergences between implementations; the clipped mean accumulates
    in exact decimal.

    100 TB design: one rank window per type (high-cardinality partition
    key distributes), a broadcast-sized cuts frame joined back over the
    stream, one partial-aggregable clipped-sum pass. At extreme scale
    the rank window swaps for approx_percentile cut candidates with the
    same downstream (documented trade like x_rfm_segmentation).

    Reference parity: AVG-family analyses (Queries:44-50 shape) made
    robust; SURVEY.md §2 EXT quality family."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    wv = W.partitionBy("event_type").orderBy("value")
    v = ev.select(
        "event_type",
        "value",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    )
    lo_idx = F.expr(f"({WINSOR_LO_PCT} * n + 99) div 100")
    hi_idx = F.expr(f"({WINSOR_HI_PCT} * n + 99) div 100")
    cuts = v.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == lo_idx, F.col("value"))).alias("p_lo"),
        F.max(F.when(F.col("rn") == hi_idx, F.col("value"))).alias("p_hi"),
    )
    clipped = v.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "p_lo",
        "p_hi",
        F.when(F.col("value") < F.col("p_lo"), F.col("p_lo"))
        .when(F.col("value") > F.col("p_hi"), F.col("p_hi"))
        .otherwise(F.col("value"))
        .alias("cv"),
        (F.col("value") < F.col("p_lo")).cast("int").alias("lo"),
        (F.col("value") > F.col("p_hi")).cast("int").alias("hi"),
    )
    return (
        clipped.groupBy("event_type", "p_lo", "p_hi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("lo").cast("bigint").alias("n_clipped_lo"),
            F.sum("hi").cast("bigint").alias("n_clipped_hi"),
            (
                F.sum(F.col("cv").cast("decimal(27,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("wmean"),
        )
        .select(
            "event_type",
            "n",
            F.round("p_lo", 6).alias("p_lo"),
            F.round("p_hi", 6).alias("p_hi"),
            "n_clipped_lo",
            "n_clipped_hi",
            F.round("wmean", 6).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


HIST_BINS = 20  # equi-width bins over order totals


@register(
    "x_histogram",
    tags=("EXT", "A1", "F4", "F7"),
    oracle=f"""
        WITH cents AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
            FROM orders
        ),
        bounds AS (
            SELECT CAST(MIN(c) AS BIGINT) AS lo, CAST(MAX(c) AS BIGINT) AS hi,
                   CAST(COUNT(*) AS BIGINT) AS total,
                   CAST((MAX(c) - MIN(c) + {HIST_BINS}) // {HIST_BINS} AS BIGINT)
                       AS width
            FROM cents
        )
        SELECT CAST((c - lo) // width AS BIGINT) AS bin,
               CAST(lo + ((c - lo) // width) * width AS BIGINT) AS bin_lo_cents,
               CAST(lo + ((c - lo) // width + 1) * width - 1 AS BIGINT)
                   AS bin_hi_cents,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) * 1000000 // total AS BIGINT) AS share_ppm
        FROM cents, bounds
        GROUP BY bin, bin_lo_cents, bin_hi_cents, total
        ORDER BY bin
    """,
)
def x_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals ({HIST} bins over the exact
    cents range) — the distribution-shape profile complementing
    x_quantile_binning's equi-depth cut: integer bin arithmetic (ceil
    width = (range + bins) // bins guarantees max lands in the last
    bin), exact ppm shares, no floats at all.

    100 TB design: the min/max pass partial-aggregates, bounds
    broadcast as one row, binning is a map-side expression, and the
    final groupBy has HIST_BINS groups — two scans (or one with a
    pre-known domain), both fully parallel.

    Reference parity: rating-distribution analyses (Queries:44-50
    shape); SURVEY.md §2 EXT quality family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_totalprice"])
    cents = orders.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").alias("c")
    )
    bounds = cents.agg(
        F.min("c").cast("bigint").alias("lo"),
        F.max("c").cast("bigint").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("total"),
        F.expr(f"CAST((MAX(c) - MIN(c) + {HIST_BINS}) div {HIST_BINS} AS BIGINT)").alias(
            "width"
        ),
    )
    binned = cents.crossJoin(F.broadcast(bounds)).select(
        F.expr("CAST((c - lo) div width AS BIGINT)").alias("bin"),
        F.expr("CAST(lo + ((c - lo) div width) * width AS BIGINT)").alias(
            "bin_lo_cents"
        ),
        F.expr("CAST(lo + ((c - lo) div width + 1) * width - 1 AS BIGINT)").alias(
            "bin_hi_cents"
        ),
        "total",
    )
    return (
        binned.groupBy("bin", "bin_lo_cents", "bin_hi_cents", "total")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "bin",
            "bin_lo_cents",
            "bin_hi_cents",
            "n",
            F.expr("CAST(n * 1000000 div total AS BIGINT)").alias("share_ppm"),
        )
        .orderBy("bin")
    )


@register(
    "x_prf_eval",
    tags=("EXT", "A1", "F4", "F7"),
    oracle=f"""
        WITH labeled AS (
            SELECT CASE WHEN n_chars >= {KAPPA_LEN_MIN} THEN 1 ELSE 0 END AS pred,
                   CASE WHEN 100 * len(list_filter(string_split(text, ' '),
                            t -> list_contains(['the','a','of','and','to','in','is','that'], t)))
                        >= {KAPPA_STOP_PCT} * len(string_split(text, ' '))
                        THEN 1 ELSE 0 END AS truth
            FROM documents
        ),
        counts AS (
            SELECT CAST(SUM(pred * truth) AS BIGINT) AS tp1,
                   CAST(SUM(pred * (1 - truth)) AS BIGINT) AS fp1,
                   CAST(SUM((1 - pred) * truth) AS BIGINT) AS fn1,
                   CAST(SUM((1 - pred) * (1 - truth)) AS BIGINT) AS tn1
            FROM labeled
        ),
        per_class AS (
            SELECT 1 AS class, tp1 AS tp, fp1 AS fp, fn1 AS fn FROM counts
            UNION ALL
            SELECT 0, tn1, fn1, fp1 FROM counts
        )
        SELECT class, tp, fp, fn,
               round(CAST(tp AS DOUBLE) / CAST(NULLIF(tp + fp, 0) AS DOUBLE), 6)
                   AS precision,
               round(CAST(tp AS DOUBLE) / CAST(NULLIF(tp + fn, 0) AS DOUBLE), 6)
                   AS recall,
               round(2.0 * CAST(tp AS DOUBLE)
                     / CAST(NULLIF(2 * tp + fp + fn, 0) AS DOUBLE), 6) AS f1
        FROM per_class ORDER BY class
    """,
)
def x_prf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 between two deterministic
    labelers (x_kappa's annotator pair recast as predicted-vs-truth) —
    the classifier-eval primitive next to the retrieval (x_ndcg) and
    dedup (x_dedup_recall) harnesses: when a cheap heuristic gates an
    expensive pipeline stage, these are the numbers that justify it.
    F1 uses the division-stable 2tp/(2tp+fp+fn) identity — one exact
    integer ratio per metric, no chained float divisions; empty
    denominators yield NULL on both engines (NULLIF), the honest
    undefined-metric convention.

    100 TB design: one conditional-sum scan reduces to a 2x2 table
    map-side; the per-class unpivot is constant rows. Multi-class
    generalizes to a groupBy over (pred, truth) cells — the
    x_chi2_independence frame — with the same per-class arithmetic.

    Reference parity: no eval surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT eval family."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_list = F.array(
        *[F.lit(w) for w in ["the", "a", "of", "and", "to", "in", "is", "that"]]
    )
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_list, t)))
    pred = F.when(F.col("n_chars") >= KAPPA_LEN_MIN, 1).otherwise(0)
    truth = F.when(hits * 100 >= F.size(toks) * KAPPA_STOP_PCT, 1).otherwise(0)
    counts = docs.select(pred.alias("p"), truth.alias("t")).agg(
        F.sum(F.col("p") * F.col("t")).cast("bigint").alias("tp1"),
        F.sum(F.col("p") * (1 - F.col("t"))).cast("bigint").alias("fp1"),
        F.sum((1 - F.col("p")) * F.col("t")).cast("bigint").alias("fn1"),
        F.sum((1 - F.col("p")) * (1 - F.col("t"))).cast("bigint").alias("tn1"),
    )
    pos = counts.select(
        F.lit(1).alias("class"),
        F.col("tp1").alias("tp"),
        F.col("fp1").alias("fp"),
        F.col("fn1").alias("fn"),
    )
    neg = counts.select(
        F.lit(0).alias("class"),
        F.col("tn1").alias("tp"),
        F.col("fn1").alias("fp"),
        F.col("fp1").alias("fn"),
    )
    per_class = pos.unionByName(neg)
    nz = lambda c: F.nullif(c.cast("bigint"), F.lit(0)).cast("double")  # noqa: E731
    return per_class.select(
        "class",
        "tp",
        "fp",
        "fn",
        F.round(F.col("tp").cast("double") / nz(F.col("tp") + F.col("fp")), 6).alias(
            "precision"
        ),
        F.round(F.col("tp").cast("double") / nz(F.col("tp") + F.col("fn")), 6).alias(
            "recall"
        ),
        F.round(
            2.0
            * F.col("tp").cast("double")
            / nz(2 * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        ).alias("f1"),
    ).orderBy("class")


CALIB_BINS = 10
CALIB_CAP = 2000  # n_chars cap mapping length to a [0,1] confidence score


@register(
    "x_calibration",
    tags=("EXT", "A1", "O4", "F4"),
    oracle=f"""
        WITH scored AS (
            SELECT LEAST(n_chars, {CALIB_CAP}) AS capped,
                   CASE WHEN 100 * len(list_filter(string_split(text, ' '),
                            t -> list_contains(['the','a','of','and','to','in','is','that'], t)))
                        >= {KAPPA_STOP_PCT} * len(string_split(text, ' '))
                        THEN 1 ELSE 0 END AS outcome
            FROM documents
        ),
        binned AS (
            SELECT LEAST(capped * {CALIB_BINS} // {CALIB_CAP}, {CALIB_BINS - 1}) AS bin,
                   capped, outcome
            FROM scored
        ),
        per_bin AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(capped) AS BIGINT) AS sum_capped,
                   CAST(SUM(outcome) AS BIGINT) AS n_pos
            FROM binned GROUP BY bin
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM per_bin),
        gaps AS (
            SELECT bin, n, n_pos,
                   CAST(sum_capped AS DOUBLE) / (CAST(n AS DOUBLE) * {CALIB_CAP}.0)
                       AS conf,
                   CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
                   abs(CAST(sum_capped AS DOUBLE) / (CAST(n AS DOUBLE) * {CALIB_CAP}.0)
                       - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                       * CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS w_gap
            FROM per_bin, tot
        )
        SELECT bin, n, n_pos,
               round(conf, 6) AS mean_score,
               round(acc, 6) AS outcome_rate,
               round(CAST(SUM(w_gap) OVER (ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE), 6) AS ece_cum
        FROM gaps ORDER BY bin
    """,
)
def x_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve + expected calibration error of a
    length-derived confidence score against a binary quality outcome —
    the reliability diagnostic for any heuristic score the pipeline
    gates on (a well-calibrated score's bin-mean equals its outcome
    rate; the last row's ece_cum IS the ECE). Confidence = capped
    length / cap (an exact rational), bins by integer floor division,
    per-bin means as single divisions over exact integer sums, and the
    ECE folded as a CUMULATIVE window sum in bin order (the x_ndcg
    determinism recipe) — the whole curve hash-matches.

    100 TB design: one conditional-sum scan partial-aggregates to
    CALIB_BINS rows; everything after is window math over those rows.

    Reference parity: no eval surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT eval family."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_list = F.array(
        *[F.lit(w) for w in ["the", "a", "of", "and", "to", "in", "is", "that"]]
    )
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_list, t)))
    outcome = F.when(hits * 100 >= F.size(toks) * KAPPA_STOP_PCT, 1).otherwise(0)
    capped = F.least(F.col("n_chars"), F.lit(CALIB_CAP))
    scored = docs.select(capped.alias("capped"), outcome.alias("outcome"))
    per_bin = (
        scored.select(
            F.least(
                F.expr(f"capped * {CALIB_BINS} div {CALIB_CAP}"),
                F.lit(CALIB_BINS - 1),
            ).alias("bin"),
            "capped",
            "outcome",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("capped").cast("bigint").alias("sum_capped"),
            F.sum("outcome").cast("bigint").alias("n_pos"),
        )
    )
    tot = per_bin.agg(F.sum("n").cast("bigint").alias("nt"))
    nd = F.col("n").cast("double")
    conf = F.col("sum_capped").cast("double") / (nd * float(CALIB_CAP))
    acc = F.col("n_pos").cast("double") / nd
    gaps = per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        conf.alias("conf"),
        acc.alias("acc"),
        (F.abs(conf - acc) * nd / F.col("nt").cast("double")).alias("w_gap"),
    )
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    return gaps.select(
        "bin",
        "n",
        "n_pos",
        F.round("conf", 6).alias("mean_score"),
        F.round("acc", 6).alias("outcome_rate"),
        F.round(F.sum("w_gap").over(w), 6).alias("ece_cum"),
    ).orderBy("bin")


LORENZ_BINS = 10  # decile resolution of the concentration curve


@register(
    "x_lorenz_curve",
    tags=("EXT", "A7", "O3", "O4", "F4"),
    oracle=f"""
        WITH rev AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT cents,
                   CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT)
                       AS rn,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM rev
        ),
        bins AS (
            SELECT (rn * {LORENZ_BINS} + n - 1) // n AS decile,
                   CAST(COUNT(*) AS BIGINT) AS customers,
                   CAST(SUM(cents) AS BIGINT) AS decile_cents
            FROM ranked GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(decile_cents) AS BIGINT) AS total FROM bins)
        SELECT decile, customers, decile_cents,
               round(CAST(decile_cents AS DOUBLE) / total, 6) AS pct_of_total,
               round(CAST(SUM(decile_cents) OVER (ORDER BY decile) AS DOUBLE)
                     / total, 6) AS cum_pct
        FROM bins, tot ORDER BY decile
    """,
)
def x_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue concentration: customers sorted
    ascending by lifetime spend, cut into {LORENZ_BINS} equal-count
    deciles, each with its share and cumulative share of total revenue
    — the curve whose area x_gini_concentration summarizes to one
    number, read directly ("the top decile carries X% of revenue"; for
    a corpus, swap customers->sources and revenue->characters and it is
    the domain-cap planning curve behind x_domain_cap).

    Determinism: revenue is exact integer cents; the decile of rank rn
    is the pure-integer ceil((rn*{LORENZ_BINS})/n) = (rn*{LORENZ_BINS}+n-1) div n
    (rank ties broken by custkey; equal-cents ties across a boundary
    sum identically either side under the rank order, since the
    per-decile sum only depends on the multiset cut at identical
    values); shares are single divisions of exact integers.

    100 TB design: the fact table partial-aggregates to one row per
    customer first, and the exact global rank over that frame is the
    shared two-level ranking (operators/ranking.py two_level_rank:
    range-bucket on the full (cents, custkey) key, cum-sum the tiny
    per-bucket counts into offsets, row_number only WITHIN buckets) —
    no stage sorts the per-customer frame in one task, so the rank
    survives ~10^9 entities, and because the bucket key includes the
    custkey tie-break, a 99%-one-value revenue distribution still
    spreads across buckets (round-11 skew hardening). The curve itself
    is {LORENZ_BINS} rows.

    Reference parity: 'top rated / most active' leaderboards
    (Queries:28-44) generalized to a whole-population concentration
    statement; SURVEY.md §2 EXT analytics family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"])
    rev = orders.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("bigint")
        .alias("cents")
    )
    ranked = two_level_rank(rev, ["cents", "o_custkey"], total_col="n").select(
        "cents", "rn", "n"
    )
    bins = (
        ranked.select(
            F.expr(f"(rn * {LORENZ_BINS} + n - 1) div n").alias("decile"), "cents"
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("customers"),
            F.sum("cents").cast("bigint").alias("decile_cents"),
        )
    )
    tot = bins.agg(F.sum("decile_cents").cast("bigint").alias("total"))
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "customers",
            "decile_cents",
            F.round(F.col("decile_cents").cast("double") / F.col("total"), 6).alias(
                "pct_of_total"
            ),
            F.round(
                F.sum("decile_cents").over(w).cast("double") / F.col("total"), 6
            ).alias("cum_pct"),
        )
        .orderBy("decile")
    )


WILSON_Z = 1.96  # 95% two-sided normal quantile, shared literal
WILSON_Z2 = 3.8416  # z^2 as its own literal so both engines parse one double
WILSON_LONG_CHARS = 800  # a doc counts as "long-form" above this


@register(
    "x_wilson_bounds",
    tags=("EXT", "A5", "F4", "O1"),
    oracle=f"""
        WITH s AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN n_chars > {WILSON_LONG_CHARS}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS k
            FROM documents GROUP BY source
        ),
        w AS (
            SELECT source, n, k,
                   CAST(k AS DOUBLE) / n AS p
            FROM s
        )
        SELECT source, n AS n_docs, k AS n_long, round(p, 6) AS rate,
               round((p + {WILSON_Z2!r} / (2 * n)
                      - {WILSON_Z!r} * sqrt(p * (1 - p) / n
                                            + {WILSON_Z2!r} / (4.0 * n * n)))
                     / (1 + {WILSON_Z2!r} / n), 6) AS wilson_lb,
               round((p + {WILSON_Z2!r} / (2 * n)
                      + {WILSON_Z!r} * sqrt(p * (1 - p) / n
                                            + {WILSON_Z2!r} / (4.0 * n * n)))
                     / (1 + {WILSON_Z2!r} / n), 6) AS wilson_ub
        FROM w
        ORDER BY wilson_lb DESC, source
    """,
)
def x_wilson_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score interval ranking: sources ordered by the LOWER
    95% confidence bound of their long-form-document rate — the
    small-sample-honest leaderboard (a 3/3 source ranks below a
    180/200 source, where the raw rate lies), i.e. the "sort by rating"
    fix every ranking system needs and the uncertainty-aware companion
    to x_quality_score's point rates.

    Determinism: k and n are exact integers; the bound is ONE fixed
    arithmetic tree over (k, n) and the shared literal constants z and
    z² (each parsed from the same decimal literal by both engines), so
    every intermediate double is bit-identical — the x_assortativity
    sqrt-tree recipe.

    100 TB design: one partial-aggregable conditional groupBy to
    |sources| rows; the interval math is map-side over the collapsed
    frame and the sort orders thousands of rows, not documents.

    Reference parity: 'top rated' leaderboards (Queries:28-44) made
    sample-size-honest; SURVEY.md §2 EXT quality family."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("n_chars") > WILSON_LONG_CHARS, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    half = F.lit(WILSON_Z) * F.sqrt(
        p * (1 - p) / F.col("n") + F.lit(WILSON_Z2) / (4.0 * F.col("n") * F.col("n"))
    )
    center = p + F.lit(WILSON_Z2) / (2 * F.col("n"))
    denom = 1 + F.lit(WILSON_Z2) / F.col("n")
    return (
        s.select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("k").alias("n_long"),
            F.round(p, 6).alias("rate"),
            F.round((center - half) / denom, 6).alias("wilson_lb"),
            F.round((center + half) / denom, 6).alias("wilson_ub"),
        )
        .orderBy(F.col("wilson_lb").desc(), "source")
    )


@register(
    "x_auc_roc",
    tags=("EXT", "A7", "O4", "F4"),
    oracle=f"""
        WITH scored AS (
            SELECT n_chars AS v,
                   CASE WHEN 100 * len(list_filter(string_split(text, ' '),
                            t -> list_contains(['the','a','of','and','to','in','is','that'], t)))
                        >= {KAPPA_STOP_PCT} * len(string_split(text, ' '))
                        THEN 1 ELSE 0 END AS pos
            FROM documents
        ),
        per_v AS (
            SELECT v, CAST(SUM(pos) AS BIGINT) AS cp,
                   CAST(SUM(1 - pos) AS BIGINT) AS cn,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM scored GROUP BY v
        ),
        cum AS (
            SELECT cp, cn, c,
                   CAST(COALESCE(SUM(c) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS cumprev
            FROM per_v
        ),
        s AS (
            SELECT CAST(SUM(cp) AS BIGINT) AS n1,
                   CAST(SUM(cn) AS BIGINT) AS n0,
                   CAST(SUM(cp * (2 * cumprev + c + 1)) AS BIGINT) AS r1x2
            FROM cum
        )
        SELECT n1 AS n_pos, n0 AS n_neg,
               round(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
                     / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6) AS auc
        FROM s
    """,
)
def x_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC-ROC of the length score as a classifier of the stopword
    outcome (the x_calibration pair, threshold-free): computed EXACTLY
    via the rank-sum identity AUC = (R1 - n1(n1+1)/2) / (n1*n0) with
    midrank tie handling — the ranking-quality number that completes
    the eval family (x_prf_eval fixes one threshold, x_calibration
    checks probability faithfulness, AUC sweeps every threshold at
    once; 0.5 = coin flip).

    Determinism: per-value tie groups carry the doubled midrank
    2*cumprev+c+1 (the x_mann_whitney trick — AUC IS U/n1n0), so the
    numerator is an exact integer and the single division is the only
    float op. No per-row ranks ever materialize.

    100 TB design: one partial-aggregable groupBy collapses documents
    to |distinct scores| rows; the tie-group prefix is a two_level_rank
    over that collapsed frame (score cardinality still grows with the
    data — no single-task sort) and the statistic reduces map-side to
    ONE row.

    Reference parity: 'top rated' ordering quality (Queries:28-44)
    measured properly; SURVEY.md §2 EXT eval family."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_list = F.array(
        *[F.lit(w) for w in ["the", "a", "of", "and", "to", "in", "is", "that"]]
    )
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_list, t)))
    pos = F.when(hits * 100 >= F.size(toks) * KAPPA_STOP_PCT, 1).otherwise(0)
    per_v = (
        docs.select(F.col("n_chars").alias("v"), pos.alias("pos"))
        .groupBy("v")
        .agg(
            F.sum("pos").cast("bigint").alias("cp"),
            F.sum(1 - F.col("pos")).cast("bigint").alias("cn"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
    )
    # exclusive prefix of tie-group sizes via two_level_rank — the
    # round-12 retirement of the unpartitioned cumulative window over
    # the distinct-score grid
    cum = two_level_rank(per_v, ["v"], weight="c", out_col="cumprev").select(
        "cp", "cn", "c", "cumprev"
    )
    s = cum.agg(
        F.sum("cp").cast("bigint").alias("n1"),
        F.sum("cn").cast("bigint").alias("n0"),
        F.sum(F.col("cp") * (2 * F.col("cumprev") + F.col("c") + 1))
        .cast("bigint")
        .alias("r1x2"),
    )
    return s.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(
            (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast("double")
            / (2.0 * F.col("n1").cast("double") * F.col("n0").cast("double")),
            6,
        ).alias("auc"),
    )


EQD_BINS = 10  # equi-depth histogram buckets


@register(
    "x_histogram_equidepth",
    tags=("EXT", "O3", "A6", "A7"),
    oracle=f"""
        WITH v AS (
            SELECT o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents
            FROM orders
        ),
        ranked AS (
            SELECT cents,
                   CAST(ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS BIGINT)
                       AS rn,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM v
        )
        SELECT (rn * {EQD_BINS} + n - 1) // n AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               round(MIN(cents) / 100.0, 2) AS lo_dollars,
               round(MAX(cents) / 100.0, 2) AS hi_dollars,
               CAST(COUNT(DISTINCT cents) AS BIGINT) AS ndv
        FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def x_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order price: {EQD_BINS} equal-count
    buckets with value boundaries and per-bucket NDV — the statistics
    object a cost-based optimizer keeps per column (equal-count
    boundaries answer range-selectivity queries with bounded relative
    error where x_histogram's equal-WIDTH bins go empty under skew);
    beside x_cms_join_size this is the ANALYZE-stats half of the
    cardinality-estimation story.

    Determinism: exact integer cents; the bucket of rank rn is the
    pure-integer (rn*{EQD_BINS}+n-1) div n cut on the unique
    (cents, orderkey) order (x_lorenz_curve's formula); boundaries and
    NDV are exact; the only floats are fixed /100 presentations.

    100 TB design: the raw rows are NEVER globally ranked. Every output
    (per-bucket count, min, max, NDV) depends only on the multiset of
    values, so the plan partial-aggregates to per-value counts first —
    the frame collapses from row count to the VALUE DOMAIN (price cents,
    bounded by the price range, not the table) — then a cumulative sum
    over that collapsed frame gives each value's exact rank span
    [cum+1, cum+c], which is intersected with the pure-integer bucket
    rank ranges ((b-1)·n div B, b·n div B]. The cumulative sum itself is
    the shared two-level ranking in weighted mode (operators/ranking.py
    two_level_rank(weight="c"): range-bucket the value domain, cum-sum
    the tiny per-bucket weight totals into offsets, PARTITIONED
    within-bucket cum-sum) — so no stage windows the full value domain
    in one task (a ~10^8-distinct-cents domain at 100 TB would otherwise
    single-task; round-10 change, integer-exact, bit-identical output).
    Same-value rows are interchangeable under the (cents, orderkey)
    tie-break, so the result is bit-identical to the raw ranking the
    oracle runs. The statistics object itself is {EQD_BINS} rows.

    Reference parity: no statistics surface in the reference;
    SURVEY.md §2 EXT sketches/stats family."""
    orders = scan_wide(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"])
    v = orders.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
    )
    vc = v.groupBy("cents").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    spans = (
        two_level_rank(vc, ["cents"], weight="c", total_col="n")
        .select(
            "cents",
            "c",
            "cum",
            "n",
            F.expr(f"((cum + 1) * {EQD_BINS} + n - 1) div n").alias("b0"),
            F.expr(f"((cum + c) * {EQD_BINS} + n - 1) div n").alias("b1"),
        )
    )
    overlap = F.least(
        F.col("cum") + F.col("c"), F.expr(f"(bucket * n) div {EQD_BINS}")
    ) - F.greatest(F.col("cum"), F.expr(f"((bucket - 1) * n) div {EQD_BINS}"))
    return (
        spans.select(
            "cents", "c", "cum", "n", F.explode(F.sequence("b0", "b1")).alias("bucket")
        )
        .select("bucket", "cents", overlap.cast("bigint").alias("k"))
        # k = 0 only when B > n leaves a bucket's rank range empty inside
        # a multi-rank value's span (property-tested edge); such phantom
        # buckets hold no ranks and must not surface
        .filter(F.col("k") >= 1)
        .groupBy("bucket")
        .agg(
            F.sum("k").cast("bigint").alias("n_rows"),
            F.round(F.min("cents") / 100.0, 2).alias("lo_dollars"),
            F.round(F.max("cents") / 100.0, 2).alias("hi_dollars"),
            F.count_distinct(F.col("cents")).cast("bigint").alias("ndv"),
        )
        .orderBy("bucket")
    )


# --- round 6 additions -------------------------------------------------

# Gopher-style quality rule bounds (Rae et al. 2021 §A.1.1, adapted to
# the whitespace-tokenized synthetic corpus: the line-shape rules need
# newlines the corpus lacks, so the bundle keeps the length, mean-word-
# length, alpha-fraction and stopword-presence families).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_LO = 3.0
GOPHER_MWL_HI = 10.0
GOPHER_ALPHA_MIN = 0.8  # min fraction of words containing a letter
GOPHER_STOP_MIN = 2  # min distinct stopwords present
GOPHER_STOPS = ("the", "a", "of", "and", "to", "in", "is", "that")


@register(
    "x_gopher_rules",
    tags=("EXT", "X4", "F5", "A1"),
    oracle=f"""
        WITH w AS (
            SELECT lang,
                   list_filter(string_split(text, ' '), x -> x <> '') AS words
            FROM documents
        ), m AS (
            SELECT lang,
                   len(words) AS n_words,
                   CAST(len(array_to_string(words, '')) AS DOUBLE)
                       / GREATEST(len(words), 1) AS mean_word_len,
                   CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
                        AS DOUBLE) / GREATEST(len(words), 1) AS alpha_frac,
                   len(list_filter({list(GOPHER_STOPS)!r}::VARCHAR[],
                                   s -> list_contains(words, s))) AS n_stops
            FROM w
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN n_words < {GOPHER_MIN_WORDS}
                               OR n_words > {GOPHER_MAX_WORDS}
                             THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
               CAST(SUM(CASE WHEN mean_word_len < {GOPHER_MWL_LO}
                               OR mean_word_len > {GOPHER_MWL_HI}
                             THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
               CAST(SUM(CASE WHEN alpha_frac < {GOPHER_ALPHA_MIN}
                             THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_frac,
               CAST(SUM(CASE WHEN n_stops < {GOPHER_STOP_MIN}
                             THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
               CAST(SUM(CASE WHEN n_words >= {GOPHER_MIN_WORDS}
                              AND n_words <= {GOPHER_MAX_WORDS}
                              AND mean_word_len >= {GOPHER_MWL_LO}
                              AND mean_word_len <= {GOPHER_MWL_HI}
                              AND alpha_frac >= {GOPHER_ALPHA_MIN}
                              AND n_stops >= {GOPHER_STOP_MIN}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
        FROM m GROUP BY lang ORDER BY lang
    """,
)
def x_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule bundle: the classic pretraining
    heuristic filters (word count bounds, mean word length 3-10,
    alphabetic-word fraction, minimum stopword presence) evaluated in
    ONE scan, reporting per-language firing counts per rule plus the
    pass-all count — the per-rule breakdown is what a corpus report
    publishes so a threshold change can be priced before re-running
    the pipeline (complements x_expectations' schema-level suite and
    x_quality_score's scalar blend).

    Determinism: the two ratio rules are single int/int double
    divisions (exact, identical trees both engines) compared against
    literal bounds; everything else is integer counts.

    100 TB design: map-only higher-order array functions in whole-stage
    codegen over one scan, then a 5-row partial agg — the cheapest
    possible shape for a 6-rule audit; rules are CONJUNCTIVE columns,
    not separate passes."""
    docs = scan_wide(spark, sf_dir, "documents", ["lang", "text"])
    words = F.expr("filter(split(text, ' '), x -> x != '')")
    n_words = F.size(words)
    denom = F.greatest(n_words, F.lit(1))
    mean_wl = F.length(F.concat_ws("", words)).cast("double") / denom
    alpha_frac = (
        F.size(F.expr("filter(filter(split(text, ' '), x -> x != ''), x -> x rlike '[a-z]')"))
        .cast("double")
        / denom
    )
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPS])
    n_stops = F.size(F.filter(stops, lambda s: F.array_contains(words, s)))
    m = docs.select(
        "lang",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        n_stops.alias("n_stops"),
    )
    fail_wc = (F.col("n_words") < GOPHER_MIN_WORDS) | (F.col("n_words") > GOPHER_MAX_WORDS)
    fail_mwl = (F.col("mean_word_len") < GOPHER_MWL_LO) | (
        F.col("mean_word_len") > GOPHER_MWL_HI
    )
    fail_af = F.col("alpha_frac") < GOPHER_ALPHA_MIN
    fail_st = F.col("n_stops") < GOPHER_STOP_MIN
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(fail_wc, 1).otherwise(0)).cast("bigint").alias("fail_word_count"),
            F.sum(F.when(fail_mwl, 1).otherwise(0))
            .cast("bigint")
            .alias("fail_mean_word_len"),
            F.sum(F.when(fail_af, 1).otherwise(0)).cast("bigint").alias("fail_alpha_frac"),
            F.sum(F.when(fail_st, 1).otherwise(0)).cast("bigint").alias("fail_stopwords"),
            F.sum(F.when(~fail_wc & ~fail_mwl & ~fail_af & ~fail_st, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pass_all"),
        )
        .orderBy("lang")
    )


KS_SEG_A = "BUILDING"  # two-sample KS: segment A vs B order totals
KS_SEG_B = "MACHINERY"


@register(
    "x_ks_test",
    tags=("EXT", "O4", "A1", "F4"),
    oracle=f"""
        WITH v AS (
            SELECT (o_totalprice::DECIMAL(18,2) * 100)::BIGINT AS cents,
                   CASE WHEN c_mktsegment = '{KS_SEG_A}' THEN 1 ELSE 0 END AS is_a
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')
        ), tot AS (
            SELECT CAST(SUM(is_a) AS BIGINT) AS n_a,
                   CAST(SUM(1 - is_a) AS BIGINT) AS n_b
            FROM v
        ), steps AS (
            SELECT cents,
                   CAST(SUM(CAST(is_a AS BIGINT)) AS BIGINT) AS a_here,
                   CAST(SUM(CAST(1 - is_a AS BIGINT)) AS BIGINT) AS b_here
            FROM v GROUP BY cents
        ), ecdf AS (
            SELECT SUM(a_here) OVER (ORDER BY cents
                                     ROWS UNBOUNDED PRECEDING) AS cum_a,
                   SUM(b_here) OVER (ORDER BY cents
                                     ROWS UNBOUNDED PRECEDING) AS cum_b
            FROM steps
        )
        SELECT n_a, n_b,
               round(MAX(abs(CAST(CAST(cum_a AS BIGINT) AS DOUBLE) / n_a
                             - CAST(CAST(cum_b AS BIGINT) AS DOUBLE) / n_b)), 6)
                   AS ks_stat
        FROM ecdf, tot
        GROUP BY n_a, n_b
    """,
)
def x_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between two customer
    segments' order-total distributions: D = max over the pooled value
    grid of |ECDF_A - ECDF_B| — the standard distribution-drift gate a
    data pipeline runs when a new ingest batch should "look like" the
    reference distribution (completes the nonparametric family next to
    x_mann_whitney's rank test and x_chi2_independence).

    Determinism: prices become exact integer cents; per-value counts
    are bigints accumulated by an explicitly ordered cumulative window
    (the order-dependent-fold recipe); each ECDF term is one int/int
    double division and D is a max over exact doubles — identical trees
    both engines, rounded to 6.

    100 TB design: one join + one value-keyed partial agg compresses
    the stream to its distinct-value grid BEFORE the window; the
    two_level_rank prefix pass then runs partition-parallel over
    |grid| rows, not |orders| — at TPC-H price spreads the "grid" is
    nearly one row per order, so it must never single-task sort
    (round-12 retirement of the lint-sheltered cumulative window)."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B))
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
            F.when(F.col("c_mktsegment") == KS_SEG_A, 1).otherwise(0).alias("is_a"),
        )
    )
    steps = cached(
        v.groupBy("cents").agg(
            F.sum(F.col("is_a").cast("bigint")).cast("bigint").alias("a_here"),
            F.sum((1 - F.col("is_a")).cast("bigint")).cast("bigint").alias("b_here"),
        )
    )
    # inclusive ECDF counts = two_level exclusive prefix + own weight;
    # both split cumulatives share one bucketed pass (round-12
    # retirement of the unpartitioned cumulative window; at TPC-H
    # price spreads the grid is nearly one row per order), and the
    # grand totals ride the helper's <=nb-row bucket-totals frame
    # instead of a second scan of the grid
    ecdf = two_level_rank(
        steps, ["cents"], weight=["a_here", "b_here"],
        out_col=["exc_a", "exc_b"], total_col=["n_a", "n_b"], persist=False,
    ).select(
        (F.col("exc_a") + F.col("a_here")).cast("bigint").alias("cum_a"),
        (F.col("exc_b") + F.col("b_here")).cast("bigint").alias("cum_b"),
        "n_a",
        "n_b",
    )
    d = ecdf.select(
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a").cast("double") / F.col("n_a")
            - F.col("cum_b").cast("double") / F.col("n_b")
        ).alias("gap"),
    )
    return d.groupBy("n_a", "n_b").agg(F.round(F.max("gap"), 6).alias("ks_stat"))


T_CLOSE_BUCKETS = (0, 2500, 5000, 7500)  # acctbal bucket lower edges (ordered)
T_CLOSE_T = 0.2  # groups with EMD above this violate t-closeness


@register(
    "x_t_closeness",
    tags=("EXT", "A1", "O4", "F7"),
    oracle=f"""
        WITH b AS (
            SELECT c_mktsegment AS segment,
                   CASE WHEN c_acctbal < {T_CLOSE_BUCKETS[1]} THEN 0
                        WHEN c_acctbal < {T_CLOSE_BUCKETS[2]} THEN 1
                        WHEN c_acctbal < {T_CLOSE_BUCKETS[3]} THEN 2
                        ELSE 3 END AS bucket
            FROM customer
        ), cell AS (
            SELECT segment, bucket, CAST(COUNT(*) AS BIGINT) AS n
            FROM b GROUP BY segment, bucket
        ), grid AS (
            SELECT s.segment, k.bucket, COALESCE(c.n, 0) AS n, s.n_seg, k.n_bucket, t.n_all
            FROM (SELECT segment, CAST(SUM(n) AS BIGINT) AS n_seg
                  FROM cell GROUP BY segment) s
            CROSS JOIN (SELECT bucket, CAST(SUM(n) AS BIGINT) AS n_bucket
                        FROM cell GROUP BY bucket) k
            CROSS JOIN (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM cell) t
            LEFT JOIN cell c ON c.segment = s.segment AND c.bucket = k.bucket
        ), cums AS (
            SELECT segment, n_seg,
                   abs(CAST(SUM(n * CAST(n_all AS BIGINT) - n_seg * n_bucket)
                            OVER (PARTITION BY segment ORDER BY bucket
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)) AS cum_diff_scaled
            FROM grid
        )
        SELECT segment, n_seg,
               round(CAST(CAST(SUM(cum_diff_scaled) AS BIGINT) AS DOUBLE)
                     / ({len(T_CLOSE_BUCKETS)} - 1)
                     / (SELECT CAST(SUM(n) AS BIGINT) FROM cell)
                     / n_seg, 6) AS emd,
               CAST(CAST(SUM(cum_diff_scaled) AS BIGINT) AS DOUBLE)
                   / ({len(T_CLOSE_BUCKETS)} - 1)
                   / (SELECT CAST(SUM(n) AS BIGINT) FROM cell)
                   / n_seg > {T_CLOSE_T} AS violates
        FROM cums GROUP BY segment, n_seg
        ORDER BY segment
    """,
)
def x_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al., ICDE 2007) — the third privacy
    criterion after x_kanonymity and x_l_diversity: each quasi-identifier
    group's distribution over the ORDERED sensitive attribute (account
    balance, bucketed) must sit within Earth-Mover's Distance t of the
    GLOBAL distribution. For an ordered attribute with k categories,
    EMD = (1/(k-1)) * sum_i |cumsum_i(p - q)|.

    Determinism: the per-bucket difference p_j - q_j = n_j/n_seg -
    n_bucket/n_all is cleared of divisions by scaling through
    n_seg * n_all (the registry's n-scaling ratio recipe): the windowed
    cumulative sum runs over EXACT bigints (products bounded by
    |customer|^2 < 2^63); the two divisions and the /(k-1) happen once
    per group at the very end, identical trees both engines, rounded 6.
    The violates flag compares the UNROUNDED value on both sides.

    100 TB design: one scan -> (segment, bucket) partial agg (16 cells);
    everything after operates on the tiny cell grid (dense cross join of
    segments x buckets so zero cells participate in the cumulative sum).
    The per-segment window is over k=4 rows."""
    cust = _t(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal")
    e = T_CLOSE_BUCKETS
    bucket = (
        F.when(F.col("c_acctbal") < e[1], 0)
        .when(F.col("c_acctbal") < e[2], 1)
        .when(F.col("c_acctbal") < e[3], 2)
        .otherwise(3)
    )
    cell = cached(  # 16 rows, read by segs/bks/tot/grid: one customer scan
        cust.select(F.col("c_mktsegment").alias("segment"), bucket.alias("bucket"))
        .groupBy("segment", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    segs = cell.groupBy("segment").agg(F.sum("n").cast("bigint").alias("n_seg"))
    bks = cell.groupBy("bucket").agg(F.sum("n").cast("bigint").alias("n_bucket"))
    tot = cell.agg(F.sum("n").cast("bigint").alias("n_all"))
    grid = (
        segs.crossJoin(F.broadcast(bks))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(cell), ["segment", "bucket"], "left")
        .select(
            "segment",
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            "n_seg",
            "n_bucket",
            "n_all",
        )
    )
    w = (
        W.partitionBy("segment")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cums = grid.select(
        "segment",
        "n_seg",
        "n_all",
        F.abs(
            F.sum(F.col("n") * F.col("n_all") - F.col("n_seg") * F.col("n_bucket")).over(w)
        )
        .cast("bigint")
        .alias("cum_diff_scaled"),
    )
    k1 = len(T_CLOSE_BUCKETS) - 1
    return (
        cums.groupBy("segment", "n_seg", "n_all")
        .agg(F.sum("cum_diff_scaled").cast("bigint").alias("sum_cds"))
        .select(
            "segment",
            "n_seg",
            F.round(
                F.col("sum_cds").cast("double") / k1 / F.col("n_all") / F.col("n_seg"), 6
            ).alias("emd"),
            (
                F.col("sum_cds").cast("double") / k1 / F.col("n_all") / F.col("n_seg")
                > T_CLOSE_T
            ).alias("violates"),
        )
        .orderBy("segment")
    )
