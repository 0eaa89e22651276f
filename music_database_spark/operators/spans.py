"""Exact-substring span detection and span masking (SURVEY.md §2.10 X1/
X2 — the passage-level half of dedup, Lee et al. "Deduplicating
Training Data Makes Language Models Better", public): repeated token
RUNS inside otherwise-distinct documents, found via a frequency-capped
k-gram position index and diagonal islands windows, and the per-doc
mask budget that removes the losing side's spans without dropping docs.

Split from operators/dedup.py in round 8 (consolidation). The candidate
stage is dedup's shared bucket_self_join core; only 48-bit k-gram
hashes and positions cross the shuffle, never text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources.loader import wide_docs
from .dedup import bucket_self_join
from ..session import cached

_docs = wide_docs

SPAN_K = 8  # k-gram width for exact-substring span detection
SPAN_MIN_TOKENS = 20  # report pairs sharing a token run at least this long
SPAN_MAX_FREQ = 10  # drop k-grams occurring more often than this corpus-wide


def _span_oracle() -> str:
    return f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        kg AS (
            SELECT doc_id, i AS pos,
                   CAST('0x' || substr(md5(array_to_string(t[i:i+{SPAN_K - 1}], ' ')), 1, 12)
                        AS BIGINT) AS h
            FROM toks, LATERAL unnest(range(1, len(t) - {SPAN_K - 2})) AS u(i)
            WHERE len(t) >= {SPAN_K}
        ),
        rare AS (SELECT h FROM kg GROUP BY h HAVING COUNT(*) <= {SPAN_MAX_FREQ}),
        f AS (SELECT kg.* FROM kg JOIN rare USING (h)),
        m AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, a.pos - b.pos AS diff
            FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
        ),
        runs AS (
            SELECT id_a, id_b, COUNT(*) + {SPAN_K - 1} AS span
            FROM (
                SELECT id_a, id_b, diff, pa,
                       pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diff
                                               ORDER BY pa) AS island
                FROM m
            ) g
            GROUP BY id_a, id_b, diff, island
        )
        SELECT id_a, id_b,
               CAST(MAX(span) AS BIGINT) AS longest_span,
               CAST(COUNT(*) AS BIGINT) AS n_runs
        FROM runs
        GROUP BY id_a, id_b
        HAVING MAX(span) >= {SPAN_MIN_TOKENS}
        ORDER BY id_a, id_b
    """


@register("x_substring_dedup", tags=("EXT", "X1", "X2", "O3", "X4"), oracle=_span_oracle())
def x_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shared-substring detection — the signal behind
    exact-substring training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    removes any >= 50-token span occurring twice): for every candidate
    doc pair, the LONGEST run of consecutive tokens the two share, via
    gaps-and-islands over aligned k-gram hash positions — a shared
    L-token span appears as L-k+1 consecutive matching k-gram
    positions at one fixed alignment offset (pos_a - pos_b), so
    island = pos_a - row_number() within (pair, offset) groups runs
    without any per-token comparison. Set-based methods (Jaccard /
    containment) cannot see RUN STRUCTURE; this operator reports it
    exactly (up to frequency-capped k-grams: a dropped hot k-gram can
    only SPLIT a run — conservative underestimate, never overcount).

    100 TB design: the k-gram position index is the same
    frequency-capped inverted-index shape as every other dedup path
    (48-bit hashes + int positions through the shuffle, never text);
    the islands window sorts only per-(pair, offset) match lists,
    which the frequency cap bounds. All-integer output -> exact DuckDB
    oracle. Scale path for the full Lee et al. pipeline: feed these
    pairs + offsets to a span-masking rewrite over the winning docs."""
    return substring_span_pairs(_docs(spark, sf_dir))


def substring_span_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_K,
    min_tokens: int = SPAN_MIN_TOKENS,
    max_freq: int = SPAN_MAX_FREQ,
) -> DataFrame:
    """(id_a, id_b, longest_span, n_runs) — the one implementation of
    the aligned-k-gram islands pass, shared by the registered query and
    tests (which pin it against hand-built known-span corpora)."""
    runs = substring_span_runs(
        docs, id_col, text_col, k, min_span_tokens=1, max_freq=max_freq
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            F.max("span").cast("bigint").alias("longest_span"),
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        )
        .filter(F.col("longest_span") >= min_tokens)
    )


def substring_span_runs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_K,
    min_span_tokens: int = SPAN_MIN_TOKENS,
    max_freq: int = SPAN_MAX_FREQ,
) -> DataFrame:
    """(id_a, id_b, start_a, start_b, span) — every aligned shared run of
    >= min_span_tokens tokens WITH its position on both sides: the ONE
    implementation of the k-gram/islands machinery. x_substring_dedup
    consumes it unfiltered (min_span_tokens=1) and reduces to per-pair
    maxima; x_span_mask consumes the positional rows directly;
    start_b = start_a - diff."""
    docs = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    arr = F.split("text", " ")
    kg = cached(
        docs.filter(F.size(arr) >= k)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(arr) - (k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.conv(
                            F.substring(
                                F.md5(F.concat_ws(" ", F.slice(arr, i, k))), 1, 12
                            ),
                            16,
                            10,
                        )
                        .cast("bigint")
                        .alias("h"),
                    ),
                )
            ).alias("kg"),
        )
        .select("doc_id", "kg.pos", "kg.h")
    )
    rare = kg.groupBy("h").agg(F.count(F.lit(1)).alias("freq")).filter(
        F.col("freq") <= max_freq
    )
    f = kg.join(rare.select("h"), "h")
    m = (
        bucket_self_join(f, ["h"], "doc_id")
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.pos").alias("pa"),
            (F.col("a.pos") - F.col("b.pos")).alias("diff"),
        )
    )
    islands = m.withColumn(
        "island",
        F.col("pa")
        - F.row_number().over(W.partitionBy("id_a", "id_b", "diff").orderBy("pa")),
    )
    runs = islands.groupBy("id_a", "id_b", "diff", "island").agg(
        (F.count(F.lit(1)) + (k - 1)).alias("span"),
        F.min("pa").alias("start_a"),
    )
    return runs.filter(F.col("span") >= min_span_tokens).select(
        "id_a",
        "id_b",
        "start_a",
        (F.col("start_a") - F.col("diff")).alias("start_b"),
        F.col("span").cast("bigint").alias("span"),
    )


def _span_mask_oracle() -> str:
    return f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        kg AS (
            SELECT doc_id, i AS pos,
                   CAST('0x' || substr(md5(array_to_string(t[i:i+{SPAN_K - 1}], ' ')), 1, 12)
                        AS BIGINT) AS h
            FROM toks, LATERAL unnest(range(1, len(t) - {SPAN_K - 2})) AS u(i)
            WHERE len(t) >= {SPAN_K}
        ),
        rare AS (SELECT h FROM kg GROUP BY h HAVING COUNT(*) <= {SPAN_MAX_FREQ}),
        f AS (SELECT kg.* FROM kg JOIN rare USING (h)),
        m AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, a.pos - b.pos AS diff
            FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
        ),
        runs AS (
            SELECT id_a, id_b, COUNT(*) + {SPAN_K - 1} AS span, MIN(pa) AS start_a, diff
            FROM (
                SELECT id_a, id_b, diff, pa,
                       pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diff
                                               ORDER BY pa) AS island
                FROM m
            ) g
            GROUP BY id_a, id_b, diff, island
            HAVING COUNT(*) + {SPAN_K - 1} >= {SPAN_MIN_TOKENS}
        ),
        iv AS (
            SELECT id_b AS doc_id, id_a AS src,
                   start_a - diff AS s, start_a - diff + span AS e
            FROM runs
        ),
        marked AS (
            SELECT doc_id, src, s, e,
                   CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e, src
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                             IS NULL
                          OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e, src
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_grp
            FROM iv
        ),
        grp AS (
            SELECT doc_id, src, s, e,
                   SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY s, e, src
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
            FROM marked
        ),
        merged AS (
            SELECT doc_id, g, MIN(s) AS ms, MAX(e) AS me FROM grp GROUP BY doc_id, g
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_spans_merged,
                   CAST(SUM(me - ms) AS BIGINT) AS n_tokens_masked
            FROM merged GROUP BY doc_id
        ),
        raw AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_raw_spans,
                   CAST(COUNT(DISTINCT src) AS BIGINT) AS n_sources
            FROM iv GROUP BY doc_id
        )
        SELECT p.doc_id, r.n_sources, r.n_raw_spans, p.n_spans_merged, p.n_tokens_masked
        FROM per_doc p JOIN raw r USING (doc_id)
        ORDER BY doc_id
    """


@register("x_span_mask", tags=("EXT", "X1", "O4", "O5"), oracle=_span_mask_oracle())
def x_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of exact-substring dedup (Lee et al. 2022): every
    shared run of >= SPAN_MIN_TOKENS tokens is masked on the LOSING side
    (keep-first: the larger doc_id loses), overlapping mask intervals
    from different sources are merged by the cumulative-max
    gaps-and-islands pass (interval union entirely in window functions
    — no per-token work), and each affected doc reports how many source
    docs hit it, raw vs merged span counts, and total tokens masked —
    the budget line a pipeline checks before committing a span-level
    rewrite.

    100 TB design: composes substring_span_runs (frequency-capped
    positional index, ~linear candidates) with one per-doc window over
    that doc's OWN mask intervals (dozens of rows, never tokens) — the
    expensive text rewrite happens later, map-side, driven by these
    integer intervals. All-integer output -> exact oracle."""
    return mask_budget_from_runs(substring_span_runs(_docs(spark, sf_dir)))


def mask_budget_from_runs(runs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Interval-union mask budget from a positional runs frame — the one
    implementation shared by the registered x_span_mask query and
    CorpusPipeline.span_mask_budget."""
    iv = runs.select(
        F.col("id_b").alias(id_col),
        F.col("id_a").alias("src"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span")).alias("e"),
    )
    # ORDER BY must be TOTAL: the gap-merge chains TWO ROWS-frame windows
    # (new_grp, then its running sum), and with fully-tied (s, e) rows an
    # engine may sort each window's peers differently — the row carrying
    # new_grp=1 can land LAST in the second window's order, splitting one
    # logical group in two (found by the round-8 variant-data sweep:
    # three identical replica spans merged to 1 on Spark, 2 on DuckDB).
    # src disambiguates; residual full-row duplicates are order-invariant.
    w_prev = (
        W.partitionBy(id_col)
        .orderBy("s", "e", "src")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy(id_col)
        .orderBy("s", "e", "src")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    prev_max = F.max("e").over(w_prev)
    grp = iv.withColumn(
        "new_grp",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn("g", F.sum("new_grp").over(w_run))
    merged = grp.groupBy(id_col, "g").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    per_doc = merged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans_merged"),
        F.sum(F.col("me") - F.col("ms")).cast("bigint").alias("n_tokens_masked"),
    )
    raw = iv.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw_spans"),
        F.countDistinct("src").cast("bigint").alias("n_sources"),
    )
    return (
        per_doc.join(raw, id_col)
        .select(id_col, "n_sources", "n_raw_spans", "n_spans_merged", "n_tokens_masked")
        .orderBy(id_col)
    )

