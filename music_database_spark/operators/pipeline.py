"""Training-data pipeline operators over the documents table: deterministic
dataset splitting, repetition-based quality filtering, PII redaction.

These are the corpus-preparation steps a 100 TB pretraining pipeline runs
after dedup (operators/dedup.py) and text analysis (operators/textops.py).
All three are pure Catalyst expression pipelines — narrow per-row work plus
one partial-agg-friendly groupBy — so they scale linearly with no Python
in the loop and no shuffle beyond the final small aggregation.

Reference parity: the reference (shreyasb27/Music-Database) has no
pipeline surface; these extend SURVEY.md §2.10 (X-rows) per the build
brief's training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..plans.relational import _t
from .ranking import two_level_rank
from ..sources.loader import scan_wide, wide_docs
from ..session import cached


# One shared definition (sources/loader.wide_docs); local alias keeps
# call sites short.
_docs = wide_docs


@register(
    "x_hash_split",
    tags=("EXT", "X4", "F3"),
    oracle="""
        SELECT split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc
        FROM (
            SELECT doc_id, n_chars,
                   CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'validation'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, n_chars,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100
                             AS bucket
                  FROM documents) b
        ) s
        GROUP BY split ORDER BY split
    """,
)
def x_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test assignment (80/10/10) by hashing
    the stable document id: bucket = int(md5(id)[:4], 16) % 100.

    Content- and order-independent, so the split is reproducible across
    runs, engines, and repartitionings — the property a training pipeline
    needs so later incremental ingests never move a document between
    splits. Pure narrow work (no shuffle until the tiny 3-row agg);
    md5 is evaluated JVM-side in whole-stage codegen.
    """
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "validation").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "doc_id", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
        .orderBy("split")
    )


@register(
    "x_repetition_filter",
    tags=("EXT", "X4", "F5"),
    oracle="""
        WITH d AS (
            SELECT doc_id, lang,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
        ), m AS (
            SELECT doc_id, lang, len(toks) AS n_tok,
                   list_max([len(list_filter(toks, t -> t = u))
                             for u in list_distinct(toks)]) AS max_cnt,
                   [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS bigrams
            FROM d
        ), f AS (
            SELECT lang, n_tok, max_cnt,
                   len(bigrams) AS n_bi,
                   len(bigrams) - len(list_distinct(bigrams)) AS n_dup,
                   (max_cnt * 10 > n_tok * 3
                    OR (len(bigrams) - len(list_distinct(bigrams))) * 5 > len(bigrams))
                       AS dropped
            FROM m
        )
        SELECT lang,
               CAST(SUM(CASE WHEN dropped THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(SUM(max_cnt) AS BIGINT) AS sum_top_token,
               CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
               CAST(SUM(n_dup) AS BIGINT) AS sum_dup_bigrams,
               CAST(SUM(n_bi) AS BIGINT) AS sum_bigrams
        FROM f GROUP BY lang ORDER BY lang
    """,
)
def x_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: drop documents whose top
    token exceeds 30% of all tokens or whose duplicate-bigram fraction
    exceeds 20% (Rae et al. 2021, "Scaling Language Models", table A1 —
    public repetition heuristics).

    Both signals are row-local, so they are computed entirely with
    higher-order array functions (transform/filter/array_distinct) inside
    whole-stage codegen — no explode, no shuffle until the tiny per-lang
    summary agg. The alternative wordcount shape (explode + groupBy
    (doc_id, token)) would shuffle every token in the corpus; per-doc
    distinct counting is bounded by document length, so O(n_distinct *
    n_tok) per row is cheaper at any scale. Thresholds are integer
    cross-multiplications — no float compares to drift between engines.
    """
    docs = _docs(spark, sf_dir)
    m = docs.select(
        "lang",
        F.expr("filter(split(text, ' '), t -> t != '')").alias("toks"),
    ).select(
        "lang",
        F.size("toks").alias("n_tok"),
        F.expr(
            "array_max(transform(array_distinct(toks),"
            " u -> size(filter(toks, t -> t = u))))"
        ).alias("max_cnt"),
        F.when(
            F.size("toks") >= 2,
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            ),
        )
        .otherwise(F.expr("array()"))
        .alias("bigrams"),
    )
    f = m.select(
        "lang",
        "n_tok",
        "max_cnt",
        F.size("bigrams").alias("n_bi"),
        (F.size("bigrams") - F.size(F.array_distinct("bigrams"))).alias("n_dup"),
    ).withColumn(
        "dropped",
        (F.col("max_cnt") * 10 > F.col("n_tok") * 3)
        | (F.col("n_dup") * 5 > F.col("n_bi")),
    )
    return (
        f.groupBy("lang")
        .agg(
            F.sum(F.when(F.col("dropped"), 0).otherwise(1)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("dropped"), 1).otherwise(0)).cast("bigint").alias("n_dropped"),
            F.sum("max_cnt").cast("bigint").alias("sum_top_token"),
            F.sum("n_tok").cast("bigint").alias("sum_tokens"),
            F.sum("n_dup").cast("bigint").alias("sum_dup_bigrams"),
            F.sum("n_bi").cast("bigint").alias("sum_bigrams"),
        )
        .orderBy("lang")
    )


@register(
    "x_redact",
    tags=("EXT", "X4", "F3"),
    oracle="""
        WITH aug AS (
            SELECT lang,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or call 555-01' || CAST(doc_id % 100 AS VARCHAR)
                       AS text_aug
            FROM documents
        ), red AS (
            SELECT lang, text_aug,
                   regexp_replace(
                       regexp_replace(text_aug, '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
                       '[0-9]{3}-[0-9]+', '<PHONE>', 'g') AS text_red,
                   len(regexp_extract_all(text_aug, '[a-z0-9]+@[a-z]+\\.[a-z]+')) AS n_emails,
                   len(regexp_extract_all(text_aug, '[0-9]{3}-[0-9]+')) AS n_phones
            FROM aug
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_emails) AS BIGINT) AS total_emails,
               CAST(SUM(n_phones) AS BIGINT) AS total_phones,
               CAST(SUM(length(text_aug)) AS BIGINT) AS sum_len_before,
               CAST(SUM(length(text_red)) AS BIGINT) AS sum_len_after
        FROM red GROUP BY lang ORDER BY lang
    """,
)
def x_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: find-and-replace email and phone patterns with
    typed placeholder tokens, reporting per-language match and length
    deltas. The test corpus is synthetic clean text, so PII is first
    injected deterministically from doc_id — the redaction expressions
    themselves are exactly what a real pipeline runs.

    regexp_replace/regexp_extract_all evaluate JVM-side per row (narrow,
    codegen) — at 100 TB this is a map-only stage with no shuffle before
    the per-lang summary. Patterns use explicit [0-9]/[a-z0-9] classes,
    which mean the same thing in Java regex (Spark) and RE2 (DuckDB).
    """
    docs = _docs(spark, sf_dir)
    email_re = r"[a-z0-9]+@[a-z]+\.[a-z]+"
    phone_re = r"[0-9]{3}-[0-9]+"
    aug = docs.select(
        "lang",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-01"),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("text_aug"),
    )
    red = aug.select(
        "lang",
        "text_aug",
        F.regexp_replace(
            F.regexp_replace("text_aug", email_re, "<EMAIL>"), phone_re, "<PHONE>"
        ).alias("text_red"),
        F.size(F.regexp_extract_all("text_aug", F.lit(email_re), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("text_aug", F.lit(phone_re), F.lit(0))).alias("n_phones"),
    )
    return (
        red.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").cast("bigint").alias("total_emails"),
            F.sum("n_phones").cast("bigint").alias("total_phones"),
            F.sum(F.length("text_aug")).cast("bigint").alias("sum_len_before"),
            F.sum(F.length("text_red")).cast("bigint").alias("sum_len_after"),
        )
        .orderBy("lang")
    )


@register(
    "x_seq_packing",
    tags=("EXT", "X4", "O4"),
    oracle="""
        WITH t AS (
            SELECT lang, doc_id, doc_id % 8 AS shard,
                   len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
            FROM documents
        ), c AS (
            SELECT lang, shard, doc_id, n_tok,
                   SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
            FROM t
        )
        SELECT lang, shard, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM c GROUP BY lang, shard, bin
        ORDER BY lang, shard, bin
    """,
)
def x_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training-batch prep: documents greedily packed
    in stable doc_id order into 2048-token context windows (bin = floor
    of the preceding cumulative token count / window size; a document may
    straddle a boundary, as packed pretraining batches do).

    Packing is inherently sequential, so the parallel form packs per
    (lang, shard) stream with shard = doc_id % 8 — deterministic,
    content-independent, and the window shuffle spreads over
    n_langs * n_shards partitions instead of serializing per language.
    At cluster scale shard count rises with executor count; the
    per-stream semantics are unchanged."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.expr("filter(split(text, ' '), x -> x != '')")).alias("n_tok"),
    )
    w = (
        W.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    return (
        c.select(
            "lang",
            "shard",
            F.expr("(cum - n_tok) div 2048").alias("bin"),
            "n_tok",
        )
        .groupBy("lang", "shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .orderBy("lang", "shard", "bin")
    )


@register(
    "x_padding_waste",
    tags=("EXT", "X4", "A7", "F4"),
    oracle="""
        WITH t AS (
            SELECT lang, doc_id % 8 AS shard,
                   len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
            FROM documents
        ), stream AS (
            SELECT lang, shard, SUM(n_tok) AS toks
            FROM t GROUP BY lang, shard
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_streams,
               CAST(SUM(toks) AS BIGINT) AS total_tokens,
               CAST(SUM((toks + 2047) // 2048) AS BIGINT) AS n_windows,
               CAST(SUM((toks + 2047) // 2048) * 2048 - SUM(toks) AS BIGINT)
                   AS padding_tokens,
               round(CAST(SUM((toks + 2047) // 2048) * 2048 - SUM(toks) AS DOUBLE)
                     / CAST(SUM((toks + 2047) // 2048) * 2048 AS DOUBLE), 6)
                   AS padding_frac,
               CAST(SUM((toks + 2047) // 2048)
                    - (SUM(toks) + 2047) // 2048 AS BIGINT)
                   AS shard_overhead_windows
        FROM stream GROUP BY lang ORDER BY lang
    """,
)
def x_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit of the x_seq_packing layout — the metric a
    trainer actually pays for: every parallel packing stream ends with a
    partially-filled 2048-token window whose remainder is padding, so
    per lang this reports windows used, padding tokens, the padding
    fraction of the token budget, and `shard_overhead_windows` — the
    extra windows attributable purely to splitting the language into 8
    parallel streams instead of one sequential one (the
    parallelism-vs-padding trade a packing scheduler tunes; shard count
    rises with executor count at cluster scale, and this gauge prices
    that choice before a training run commits to it).

    All quantities are exact integers (ceil as (x + 2047) div 2048);
    the single float is the final padding fraction. Plan: one scan with
    map-only tokenization, a (lang, shard)-keyed partial agg collapsing
    the corpus to |langs|x8 rows, then a |langs|-row rollup — strictly
    cheaper than x_seq_packing itself since no window function runs."""
    docs = _t(spark, sf_dir, "documents")
    stream = (
        docs.select(
            "lang",
            (F.col("doc_id") % 8).alias("shard"),
            F.size(F.expr("filter(split(text, ' '), x -> x != '')")).alias("n_tok"),
        )
        .groupBy("lang", "shard")
        .agg(F.sum("n_tok").alias("toks"))
    )
    win = F.expr("(toks + 2047) div 2048")
    agg = stream.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streams"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        F.sum(win).cast("bigint").alias("n_windows"),
    )
    return agg.select(
        "lang",
        "n_streams",
        "total_tokens",
        "n_windows",
        (F.col("n_windows") * 2048 - F.col("total_tokens"))
        .cast("bigint")
        .alias("padding_tokens"),
        F.round(
            (F.col("n_windows") * 2048 - F.col("total_tokens")).cast("double")
            / (F.col("n_windows") * 2048).cast("double"),
            6,
        ).alias("padding_frac"),
        (F.col("n_windows") - F.expr("(total_tokens + 2047) div 2048"))
        .cast("bigint")
        .alias("shard_overhead_windows"),
    ).orderBy("lang")


@register(
    "x_stratified_sample",
    tags=("EXT", "X4", "P2"),
    oracle="""
        WITH s AS (
            SELECT lang, n_chars,
                   ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER
                       % 100 AS bucket
            FROM documents
        )
        SELECT lang,
               COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN bucket < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
               CAST(SUM(CASE WHEN bucket < 10 THEN n_chars ELSE 0 END) AS BIGINT)
                   AS sampled_chars
        FROM s GROUP BY lang ORDER BY lang
    """,
)
def x_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: an exact-rate 10% sample drawn
    independently within every language stratum, keyed by md5 of the
    stable id (salted 'strat:' so this sample is independent of the
    x_hash_split buckets). Unlike TABLESAMPLE/df.sample, the selection is
    reproducible across engines, runs, and repartitionings, and a
    document's membership never changes as the corpus grows — the
    property an eval-holdout pipeline needs. Map-only until the per-lang
    summary agg."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), 1, 4),
            16,
            10,
        ).cast("int")
        % 100
    )
    s = docs.select("lang", "n_chars", bucket.alias("bucket"))
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("bucket") < 10, 1).otherwise(0))
            .cast("bigint")
            .alias("n_sampled"),
            F.sum(F.when(F.col("bucket") < 10, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("sampled_chars"),
        )
        .orderBy("lang")
    )


@register(
    "x_corpus_prep_e2e",
    tags=("EXT", "X1", "X4", "S6"),
    oracle="""
        WITH uniq AS (
            SELECT doc_id, lang, text FROM (
                SELECT doc_id, lang, text,
                       row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                FROM documents
            ) WHERE rn = 1
        ), toks AS (
            SELECT doc_id, lang,
                   list_filter(string_split(text, ' '), t -> t <> '') AS t
            FROM uniq
        ), q AS (
            SELECT doc_id, lang, len(t) AS n_tok
            FROM toks
            WHERE list_max([len(list_filter(t, x -> x = u)) for u in list_distinct(t)]) * 10
                      <= len(t) * 3
              AND (len(t) - 1 - len(list_distinct(
                       [t[i] || ' ' || t[i+1] for i in range(1, len(t))]))) * 5
                      <= GREATEST(len(t) - 1, 0)
        ), s AS (
            SELECT lang, n_tok,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'validation' ELSE 'test' END AS split
            FROM (SELECT lang, n_tok,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100
                             AS b
                  FROM q)
        )
        SELECT split, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM s GROUP BY split, lang ORDER BY split, lang
    """,
)
def x_corpus_prep_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-preparation pipeline as ONE lazy plan: exact dedup
    (keep lowest id per identical text) -> Gopher repetition filter ->
    deterministic train/validation/test split -> per-(split, lang) doc
    and token accounting. Three conceptual passes fuse into a single
    digest-keyed shuffle plus map-only stages — Catalyst pipelines the
    dedup window output straight into the filter and split expressions
    without materialization, which is exactly how the production job
    ships (the composable per-step API is corpus.CorpusPipeline).

    Plan-shape note: the quality metrics are computed BELOW the dedup
    window. Quality is a pure function of text, and keep-one dedup keeps
    one row per identical text, so filtering before or after dedup is
    equivalent — but placing the metric projection under the Window stops
    PushPredicateThroughNonJoin from substituting the aliases into the
    quality filter (a Window is a pushdown barrier for non-partition-key
    predicates). The naive post-dedup formulation re-tokenized every
    document once per alias reference — 16 copies of filter(split(...))
    in one Filter node, a measured 7x slowdown, invisible at small scale
    but fatal at 100 TB."""
    docs = _docs(spark, sf_dir)
    t = docs.select(
        "doc_id",
        "lang",
        F.md5("text").alias("__h"),
        F.expr("filter(split(text, ' '), t -> t != '')").alias("t"),
    )
    m = t.select(
        "doc_id",
        "lang",
        "__h",
        F.size("t").alias("n_tok"),
        F.expr(
            "array_max(transform(array_distinct(t), u -> size(filter(t, x -> x = u))))"
        ).alias("max_cnt"),
        F.when(
            F.size("t") >= 2,
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            ),
        )
        .otherwise(F.expr("array()"))
        .alias("bigrams"),
    ).select(
        "doc_id",
        "lang",
        "__h",
        "n_tok",
        "max_cnt",
        F.size("bigrams").alias("n_bi"),
        (F.size("bigrams") - F.size(F.array_distinct("bigrams"))).alias("n_dup"),
    )
    w = W.partitionBy("__h").orderBy("doc_id")
    uniq = m.withColumn("rn", F.row_number().over(w))
    q = uniq.filter(
        (F.col("rn") == 1)
        & (F.col("max_cnt") * 10 <= F.col("n_tok") * 3)
        & (F.col("n_dup") * 5 <= F.greatest(F.col("n_bi"), F.lit(0)))
    ).select("doc_id", "lang", "n_tok")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    s = q.select(
        F.when(bucket < 80, "train")
        .when(bucket < 90, "validation")
        .otherwise("test")
        .alias("split"),
        "lang",
        "n_tok",
    )
    return (
        s.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


SEG_WORDS = 4  # boilerplate-removal segment width (words)
BOILER_MIN_DOCS = 3  # segment in >= this many distinct docs -> boilerplate


@register(
    "x_dedup_lines",
    tags=("EXT", "X1", "X4", "F5"),
    oracle=f"""
        WITH segs AS (
            SELECT doc_id, i - 1 AS seg_idx,
                   array_to_string(
                       string_split(text, ' ')[(i - 1) * {SEG_WORDS} + 1 :
                                               (i - 1) * {SEG_WORDS} + {SEG_WORDS}],
                       ' ') AS seg_text
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(
                           1, CAST(ceil(len(string_split(text, ' '))
                                        / {SEG_WORDS}.0) AS BIGINT))) AS i
                FROM documents
            ) t
        ),
        hashed AS (
            SELECT doc_id, seg_idx, seg_text, md5(seg_text) AS seg_hash FROM segs
        ),
        boiler AS (
            SELECT seg_hash FROM hashed
            GROUP BY seg_hash
            HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
        ),
        marked AS (
            SELECT h.doc_id, h.seg_idx, h.seg_text,
                   (b.seg_hash IS NOT NULL) AS is_boiler
            FROM hashed h LEFT JOIN boiler b ON h.seg_hash = b.seg_hash
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segs,
               CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed,
               md5(COALESCE(array_to_string(
                   list(seg_text ORDER BY seg_idx) FILTER (WHERE NOT is_boiler),
                   ' '), '')) AS clean_hash
        FROM marked GROUP BY doc_id ORDER BY doc_id
    """,
)
def x_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate segment removal (line-level dedup adapted to the
    single-line corpus): each doc is cut into fixed SEG_WORDS-word segments,
    a segment appearing in >= BOILER_MIN_DOCS distinct docs is corpus
    boilerplate, and every doc is reassembled without its boilerplate
    segments — (doc_id, n_segs, n_removed, md5-of-cleaned-text).

    100 TB design: the doc-frequency count and the boilerplate join both
    key on the segment's 16-byte md5 digest, never the segment text, so
    the wide shuffle ships digests (the dedup.py:4 policy); the
    boilerplate set itself is tiny (df >= 3 segments) and broadcast back,
    and reassembly is a per-doc sort_array over collect_list — one
    doc-keyed shuffle of (seg_idx, text) pairs. Reference parity: no such
    surface in the reference (pipeline mandate, SURVEY.md §2.10 X1/X4).
    """
    docs = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    n_segs = F.ceil(F.size(toks) / F.lit(float(SEG_WORDS))).cast("int")
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda s: F.concat_ws(" ", F.slice(toks, s * SEG_WORDS + 1, SEG_WORDS)),
    )
    segs = docs.select(
        "doc_id", F.posexplode(seg_arr).alias("seg_idx", "seg_text")
    ).withColumn("seg_hash", F.md5("seg_text"))
    boiler = (
        segs.groupBy("seg_hash")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DOCS)
        .select("seg_hash", F.lit(True).alias("is_boiler"))
    )
    marked = segs.join(F.broadcast(boiler), "seg_hash", "left")
    kept_struct = F.when(
        F.col("is_boiler").isNull(), F.struct("seg_idx", "seg_text")
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segs"),
            F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
            F.array_sort(F.collect_list(kept_struct)).alias("kept"),
        )
        .select(
            "doc_id",
            "n_segs",
            "n_removed",
            F.md5(
                F.concat_ws(" ", F.transform("kept", lambda k: k["seg_text"]))
            ).alias("clean_hash"),
        )
        .orderBy("doc_id")
    )


CONTAM_NGRAM = 4  # decontamination shingle width (words, overlapping)
CONTAM_MIN = 5  # >= this many distinct benchmark shingles -> contaminated
BENCH_MOD = 50  # mock benchmark set: doc_id % BENCH_MOD == 0


@register(
    "x_decontaminate",
    tags=("EXT", "X1", "X4", "J5"),
    oracle=f"""
        WITH sh AS (
            SELECT DISTINCT doc_id,
                   md5(array_to_string(
                       string_split(text, ' ')[i : i + {CONTAM_NGRAM} - 1],
                       ' ')) AS sh_hash
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(
                           1, GREATEST(len(string_split(text, ' '))
                                       - {CONTAM_NGRAM} + 1, 1))) AS i
                FROM documents
            ) t
        ),
        bench AS (
            SELECT DISTINCT sh_hash FROM sh WHERE doc_id % {BENCH_MOD} = 0
        ),
        ov AS (
            SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
            FROM sh c JOIN bench b ON c.sh_hash = b.sh_hash
            WHERE c.doc_id % {BENCH_MOD} <> 0
            GROUP BY c.doc_id
        )
        SELECT doc_id, n_overlap,
               (n_overlap >= {CONTAM_MIN}) AS contaminated
        FROM ov ORDER BY doc_id
    """,
)
def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/Pile-style): flag corpus documents
    whose text shares >= CONTAM_MIN distinct overlapping CONTAM_NGRAM-word
    shingles with a benchmark set (mocked as doc_id % BENCH_MOD == 0).
    Returns every non-benchmark doc with any overlap at all plus the
    contaminated verdict, so the threshold is visible data, not a cliff.

    100 TB design: the benchmark shingle set is the small side by
    construction (eval suites are MBs, the corpus is TBs) — it is
    broadcast, so the corpus side is a map-only scan + shingle explode
    with no wide shuffle except the final per-doc digest-keyed count.
    The join keys are 16-byte md5 digests, never shingle text. The
    sf0.01/sf0.1 corpora contain planted near-duplicate docs that this
    query genuinely catches (21+ shared 4-grams vs a ~2-gram noise
    floor). Reference parity: no such surface in the reference
    (pipeline mandate, SURVEY.md §2.10 X1/X4).
    """
    docs = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    n_sh = F.greatest(F.size(toks) - CONTAM_NGRAM + 1, F.lit(1))
    sh_arr = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, CONTAM_NGRAM))),
    )
    sh = (
        docs.select("doc_id", F.explode(sh_arr).alias("sh_hash"))
        .dropDuplicates(["doc_id", "sh_hash"])
    )
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0).select("sh_hash").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), "sh_hash")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
        .select(
            "doc_id",
            "n_overlap",
            (F.col("n_overlap") >= CONTAM_MIN).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "x_mixture_sample",
    tags=("EXT", "X4", "F3"),
    oracle="""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT)
                   AS kept_chars,
               (CAST(substr(source, 4) AS INTEGER) % 4 + 1) / 4.0 AS target_rate
        FROM (
            SELECT source, n_chars,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || source),
                                   1, 6))::BIGINT % 10000
                       < (CAST(substr(source, 4) AS INTEGER) % 4 + 1) * 2500
                       AS kept
            FROM documents
        ) s
        GROUP BY source ORDER BY source
    """,
)
def x_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling: each source gets a target inclusion rate
    (25/50/75/100% by source index — the stand-in for a data-mixture
    spec), and a document is kept iff a stable hash of (doc_id, source)
    lands under the rate. Returns per-source totals, kept counts/chars,
    and the target rate.

    Like x_hash_split, membership is pure per-row md5 arithmetic —
    content- and order-independent, so re-running over an incrementally
    grown corpus never flips a previous keep/drop decision (the property
    a reproducible mixture needs). Map-only until the per-source summary
    agg; at 100 TB the kept subset would stream straight into the
    sequence-packing stage (x_seq_packing) with no extra pass."""
    docs = _t(spark, sf_dir, "documents")
    idx = F.substring("source", 4, 10).cast("int")
    rate_bp = (idx % 4 + 1) * 2500
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("source"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % 10000
    )
    kept = bucket < rate_bp
    return (
        docs.select("source", "n_chars", kept.alias("kept"), ((idx % 4 + 1) / F.lit(4.0)).alias("target_rate"))
        .groupBy("source", "target_rate")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .select("source", "n_total", "n_kept", "kept_chars", "target_rate")
        .orderBy("source")
    )


DOMAIN_CAP = 20  # max documents kept per source domain


@register(
    "x_domain_cap",
    tags=("EXT", "X4", "O3", "F3"),
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                       AS rnk
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN rnk <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(SUM(CASE WHEN rnk <= {DOMAIN_CAP} THEN doc_id END) AS BIGINT)
                   AS kept_id_sum
        FROM ranked GROUP BY source ORDER BY source
    """,
)
def x_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — web-corpus preps bound any one domain's
    contribution so a single crawl-heavy site can't dominate the mixture
    (the per-domain cap in public corpus recipes, e.g. C4/RefinedWeb).
    Keeps at most DOMAIN_CAP docs per source, chosen by a DETERMINISTIC
    pseudo-random order (md5 of the doc id, doc_id tie-break) so the cap
    is an unbiased sample that is stable across runs, partitionings, and
    engines — not "first N by ingest order", which would bias toward
    whatever the crawler saw first. Reports per source the total, the
    kept count, and the kept-id checksum that pins WHICH docs survived.

    Plan: one row_number window partitioned by source (the shuffle key),
    then a partial-aggregable rollup on the same key — one exchange
    total. At 100 TB a pathologically hot domain would skew its window
    partition; the fix is the two-phase cap (per-partition pre-cap to
    DOMAIN_CAP, then the global window over the <= DOMAIN_CAP x
    n_partitions survivors), same answer by the order's transitivity."""
    docs = _t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    ranked = docs.select("doc_id", "source", F.row_number().over(w).alias("rnk"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum((F.col("rnk") <= DOMAIN_CAP).cast("bigint"))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("rnk") <= DOMAIN_CAP, F.col("doc_id")))
            .cast("bigint")
            .alias("kept_id_sum"),
        )
        .orderBy("source")
    )


BLOOM_BITS = 1 << 20  # bitmap size m (128 KiB) — sized for ~bench-set*10 FPR<1%
BLOOM_K = 3  # probe count k


def _bloom_probes(col):
    # k positions from independently-seeded xxhash64 draws; pmod keeps
    # them non-negative. Plain Catalyst, identical on every executor.
    def probe(i):
        return F.pmod(F.xxhash64(col, F.lit(i)), F.lit(BLOOM_BITS))

    return F.array(*[probe(i) for i in range(BLOOM_K)])


@register(
    "x_bloom_decontaminate",
    tags=("EXT", "X1", "X4", "J5", "S5"),
    oracle=f"""
        WITH sh AS (
            SELECT DISTINCT doc_id,
                   md5(array_to_string(
                       string_split(text, ' ')[i : i + {CONTAM_NGRAM} - 1],
                       ' ')) AS sh_hash
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(
                           1, GREATEST(len(string_split(text, ' '))
                                       - {CONTAM_NGRAM} + 1, 1))) AS i
                FROM documents
            ) t
        ),
        bench AS (
            SELECT DISTINCT sh_hash FROM sh WHERE doc_id % {BENCH_MOD} = 0
        ),
        ov AS (
            SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
            FROM sh c JOIN bench b ON c.sh_hash = b.sh_hash
            WHERE c.doc_id % {BENCH_MOD} <> 0
            GROUP BY c.doc_id
        )
        SELECT doc_id, n_overlap,
               (n_overlap >= {CONTAM_MIN}) AS contaminated
        FROM ov ORDER BY doc_id
    """,
)
def x_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination behind a hand-built Bloom prefilter — the scale
    path for x_decontaminate when the benchmark shingle set outgrows the
    broadcast threshold. Same semantics, same oracle: the Bloom pass only
    prunes, and an exact join then removes its false positives, so the
    output is bit-identical to the plain version.

    The Bloom bitmap is built IN Spark as data, not via Catalyst's
    internal bloom_filter_agg (not user-callable): each bench shingle
    digest yields BLOOM_K=3 xxhash64 probe positions, positions group
    into 64-bit words by `pos div 64`, and `bit_or(shiftleft(1L, pos %
    64))` folds each word — a (BLOOM_BITS/64)-row table (16 K rows here)
    regardless of bench-set size. Corpus shingles explode to their k
    probes, broadcast-join the word table, and survive only when all k
    bits are set (COUNT(*) = k, since each probe matches at most one
    word row).

    100 TB design: the plain twin must broadcast the FULL bench digest
    set — fine for MB-scale eval suites, impossible when decontaminating
    against a multi-TB held-out corpus. Here the broadcast side is a
    fixed 128 KiB bitmap however large the bench set grows (tune
    BLOOM_BITS ~ 10 bits/element), the corpus stream is pruned map-side
    to ~FPR + true-overlap fraction, and only that sliver reaches the
    exact shuffle join that guarantees exactness. Reference parity: no
    such surface in the reference (pipeline mandate, SURVEY.md §2.10).
    """
    docs = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    n_sh = F.greatest(F.size(toks) - CONTAM_NGRAM + 1, F.lit(1))
    sh_arr = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, CONTAM_NGRAM))),
    )
    sh = (
        docs.select("doc_id", F.explode(sh_arr).alias("sh_hash"))
        .dropDuplicates(["doc_id", "sh_hash"])
    )
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0).select("sh_hash").distinct()
    )
    words = (
        bench.select(F.explode(_bloom_probes(F.col("sh_hash"))).alias("pos"))
        .distinct()
        .groupBy(F.expr("pos div 64").alias("word_idx"))
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))")
            .alias("bits")
        )
    )
    corpus_sh = sh.filter(F.col("doc_id") % BENCH_MOD != 0)
    candidates = (
        corpus_sh.select(
            "doc_id", "sh_hash", F.explode(_bloom_probes(F.col("sh_hash"))).alias("pos")
        )
        .withColumn("word_idx", F.expr("pos div 64"))
        .join(F.broadcast(words), "word_idx")
        .filter(
            F.expr("(bits & shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))) != 0")
        )
        .groupBy("doc_id", "sh_hash")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") == BLOOM_K)
        .select("doc_id", "sh_hash")
    )
    return (
        candidates.join(bench, "sh_hash")  # exact verify: kills Bloom FPs
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
        .select(
            "doc_id",
            "n_overlap",
            (F.col("n_overlap") >= CONTAM_MIN).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


WSAMPLE_K = 20  # weighted sample size per source


@register(
    "x_weighted_sample",
    tags=("EXT", "X4", "F3", "F4", "O3"),
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                             + 1) / 16777217.0) / n_chars, 12) AS skey
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY skey DESC, doc_id) AS rnk
            FROM keyed
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        FROM ranked WHERE rnk <= {WSAMPLE_K}
        GROUP BY source ORDER BY source
    """,
)
def x_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis 2006,
    public): each doc draws a deterministic uniform u from its id's md5
    and gets key ln(u)/w with weight w = n_chars; the WSAMPLE_K largest
    keys per source are the sample — longer documents are
    proportionally likelier, yet the draw is exactly reproducible
    across runs, partitionings, and engines (u is a pure function of
    doc_id; the key is two float ops rounded to 12 dp with a doc_id
    tie-break). Reports per-source kept counts, the kept-id checksum
    pinning WHICH docs survived, and kept chars.

    100 TB design: the ES transform is map-only; selection is one
    row_number window on the source shuffle key (same single-exchange
    shape as x_domain_cap, and the same two-phase pre-cap refinement
    applies for pathologically hot sources). This is the
    length-weighted variant of x_stratified_sample's per-stratum
    uniform draw. Reference parity: no sampling surface in the
    reference (SURVEY.md §2.10 X4 mandate)."""
    docs = _t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        + 1
    ) / F.lit(16777217.0)
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 12).alias("skey"),
    )
    w = W.partitionBy("source").orderBy(F.desc("skey"), "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= WSAMPLE_K)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
        .orderBy("source")
    )


N_DATA_SHARDS = 16  # training-order shuffle: output shard count


@register(
    "x_dataset_shard",
    tags=("EXT", "X4", "F3", "S6"),
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hval,
                   len(string_split(text, ' ')) AS n_tok
            FROM documents
        ),
        sharded AS (
            SELECT doc_id, hval, n_tok, hval % {N_DATA_SHARDS} AS shard FROM h
        )
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(MIN(hval) AS BIGINT) AS min_hash,
               CAST(MAX(hval) AS BIGINT) AS max_hash,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc
        FROM sharded GROUP BY shard ORDER BY shard
    """,
)
def x_dataset_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data shuffle + shard: every doc gets a
    pseudo-random but REPRODUCIBLE position (the first 48 bits of
    md5(doc_id) — engine-portable, unlike xxhash64, and content- and
    partitioning-independent), shard = hash % N_DATA_SHARDS, and within a
    shard the training order is the hash order. Emits per-shard manifest
    stats (docs, tokens, hash range) — the summary a writer job would
    record next to each shard file.

    This is how a 100 TB corpus is globally shuffled for training
    WITHOUT a global sort: the map-only hash assigns both shard and
    intra-shard key in one narrow pass, the write is
    repartition(shard)+sortWithinPartitions(hash) — per-shard local
    sorts, never a total order across the corpus. Re-running over an
    incrementally grown corpus keeps every old doc's (shard, position)
    stable, so training-order reproducibility survives ingests."""
    docs = _t(spark, sf_dir, "documents")
    hval = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10).cast(
        "bigint"
    )
    sharded = docs.select(
        "doc_id",
        hval.alias("hval"),
        F.size(F.split("text", " ")).alias("n_tok"),
        (hval % N_DATA_SHARDS).alias("shard"),
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("hval").alias("min_hash"),
            F.max("hval").alias("max_hash"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("shard")
    )


@register(
    "x_snapshot_diff",
    tags=("EXT", "S6", "X1", "J7", "F7"),
    oracle="""
        WITH snap_a AS (
            SELECT doc_id, lang, md5(text) AS digest
            FROM documents WHERE doc_id % 20 <> 7
        ),
        snap_b AS (
            SELECT doc_id, lang,
                   md5(CASE WHEN doc_id % 20 = 3 THEN text || ' v2' ELSE text END) AS digest
            FROM documents WHERE doc_id % 20 <> 11
        ),
        diff AS (
            SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                   COALESCE(a.lang, b.lang) AS lang,
                   CASE WHEN a.doc_id IS NULL THEN 'added'
                        WHEN b.doc_id IS NULL THEN 'removed'
                        WHEN a.digest <> b.digest THEN 'changed'
                        ELSE 'unchanged' END AS change
            FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
        )
        SELECT lang, change, COUNT(*) AS n,
               CAST(MIN(doc_id) AS BIGINT) AS example_doc
        FROM diff GROUP BY lang, change ORDER BY lang, change
    """,
)
def x_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff between two corpus snapshots: per
    (lang, change-class) counts of added / removed / changed / unchanged
    docs, where 'changed' means the content DIGEST moved. The snapshots
    are carved deterministically from the documents table (one slice
    absent from A = additions, one absent from B = removals, one
    slice's text revised in B = changes) so the diff is exactly
    reproducible and fully oracle-checked — the audit a training
    pipeline runs between data drops before re-triggering downstream
    dedup/decontamination (x_dedup_incremental's 'what arrived' is this
    query's 'added' class).

    100 TB design: each side is projected to (doc_id, lang, md5) BEFORE
    the full-outer join, so the shuffle ships 16-byte digests, never
    document bodies; the join key is the (high-cardinality, even) doc
    id and the output is a handful of per-class counts from a
    partial-aggregable final agg. Snapshots stored as parquet diff
    identically — this is the plan either way."""
    docs = _t(spark, sf_dir, "documents")
    snap_a = docs.filter(F.col("doc_id") % 20 != 7).select(
        "doc_id", "lang", F.md5("text").alias("digest")
    )
    snap_b = docs.filter(F.col("doc_id") % 20 != 11).select(
        "doc_id",
        "lang",
        F.md5(
            F.when(F.col("doc_id") % 20 == 3, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
                F.col("text")
            )
        ).alias("digest"),
    )
    a, b = snap_a.alias("a"), snap_b.alias("b")
    diff = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.coalesce(F.col("a.lang"), F.col("b.lang")).alias("lang"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.digest") != F.col("b.digest"), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )
    return (
        diff.groupBy("lang", "change")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").cast("bigint").alias("example_doc"),
        )
        .orderBy("lang", "change")
    )


@register(
    "x_ks_drift",
    tags=("EXT", "A5", "O4", "X4"),
    oracle="""
        WITH b AS (
            SELECT n_chars AS v,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100
                       AS bucket
            FROM documents
        ),
        lab AS (
            SELECT v, CASE WHEN bucket < 80 THEN 1 ELSE 0 END AS is_a
            FROM b WHERE bucket < 90
        ),
        tot AS (
            SELECT CAST(SUM(is_a) AS BIGINT) AS na,
                   CAST(SUM(1 - is_a) AS BIGINT) AS nb
            FROM lab
        ),
        per_v AS (
            SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca,
                   CAST(SUM(1 - is_a) AS BIGINT) AS cb
            FROM lab GROUP BY v
        ),
        cum AS (
            SELECT v,
                   SUM(ca) OVER (ORDER BY v) AS cum_a,
                   SUM(cb) OVER (ORDER BY v) AS cum_b
            FROM per_v
        ),
        diffs AS (
            SELECT v,
                   abs(CAST(cum_a AS DOUBLE) / na - CAST(cum_b AS DOUBLE) / nb)
                       AS d
            FROM cum, tot
        )
        SELECT na, nb, round(d, 6) AS ks_stat, CAST(v AS BIGINT) AS ks_at
        FROM diffs, tot
        ORDER BY d DESC, v ASC LIMIT 1
    """,
)
def x_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift gate between hash splits:
    KS = max_v |F_train(v) - F_validation(v)| over the n_chars
    distribution, plus the value where the gap peaks — the
    scalar-feature complement to x_embedding_drift (which monitors the
    vector modality) and the distribution-shift check a pipeline runs
    on quality scores / lengths / token counts before accepting a new
    data drop. Under the null (same distribution, as a correct hash
    split guarantees) KS ~ sqrt((na+nb)/(na*nb)) — a split bug or a
    biased ingest shows up as a KS far above that. Every CDF value is
    an exact rational of integer cumulative counts, so the statistic is
    bit-identical cross-engine and value-hash-checked.

    100 TB design: one partial-aggregable count per (value, split) —
    the shuffle carries distinct values, not rows — then BOTH split
    cumulatives ride one two_level_rank pass over the value grid
    (boundary-literal buckets, partitioned per-bucket prefix sums —
    the grid grows with distinct values, so it must not single-task
    sort) and a TakeOrderedAndProject(1). For continuous doubles at
    scale the same plan runs over quantile-bucketed values
    (x_quantile_sample's sampled order statistics).
    """
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    lab = (
        docs.select(F.col("n_chars").alias("v"), bucket.alias("bucket"))
        .filter(F.col("bucket") < 90)
        .select("v", F.when(F.col("bucket") < 80, 1).otherwise(0).alias("is_a"))
    )
    per_v = lab.groupBy("v").agg(
        F.sum("is_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("is_a")).cast("bigint").alias("cb"),
    )
    # inclusive ECDF counts = two_level exclusive prefix + own weight:
    # both split cumulatives ride ONE bucketed pass (round-12 retirement
    # of the unpartitioned cumulative window over the value grid), and
    # the grand totals ride the helper's bucket-totals frame
    cum = two_level_rank(
        per_v, ["v"], weight=["ca", "cb"], out_col=["exc_a", "exc_b"],
        total_col=["na", "nb"],
    ).select(
        "v",
        (F.col("exc_a") + F.col("ca")).cast("bigint").alias("cum_a"),
        (F.col("exc_b") + F.col("cb")).cast("bigint").alias("cum_b"),
        "na",
        "nb",
    )
    d = F.abs(
        F.col("cum_a").cast("double") / F.col("na")
        - F.col("cum_b").cast("double") / F.col("nb")
    )
    return (
        cum
        .select("na", "nb", F.round(d, 6).alias("ks_stat"), F.col("v").cast("bigint").alias("ks_at"), d.alias("_d"))
        .orderBy(F.desc("_d"), F.asc("ks_at"))
        .limit(1)
        .drop("_d")
    )


CARD_QUALITY_STOPS = ["the", "a", "of", "and", "to", "in", "is", "that"]


@register(
    "x_dataset_card",
    tags=("EXT", "X4", "A1", "A5", "A6"),
    oracle=f"""
        WITH per_doc AS (
            SELECT lang, source, n_chars,
                   len(string_split(text, ' ')) AS n_tokens,
                   md5(text) AS digest,
                   CASE WHEN 100 * len(list_filter(string_split(text, ' '),
                        t -> list_contains({CARD_QUALITY_STOPS!r}, t)))
                        >= 4 * len(string_split(text, ' ')) THEN 1 ELSE 0 END AS ok
            FROM documents
        )
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_unique,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(ok) AS BIGINT) AS n_quality_ok,
               round(CAST(COUNT(DISTINCT digest) AS DOUBLE) / COUNT(*), 6)
                   AS unique_ratio
        FROM per_doc
        GROUP BY lang, source
        ORDER BY lang, source
    """,
)
def x_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card generator — the per-(lang, source) summary block a
    training-data release publishes (Gebru et al. "Datasheets for
    Datasets" shape): doc counts, content-unique counts (md5 digest —
    the exact-dedup rate preview), token/char mass, and how many docs
    clear the stopword-density quality bar, plus the dedup headroom
    ratio. ONE scan, every stat a conditional/partial aggregate; the
    exact COUNT(DISTINCT digest) per group is the only Expand and
    becomes approx_count_distinct at 100 TB with the same plan shape.

    Composes the quality/dedup/token machinery into the release gate:
    a drop whose unique_ratio or quality fraction moves >X% vs the last
    card fails review (pair with x_snapshot_diff for the row-level
    why)."""
    docs = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    stop_list = F.array(*[F.lit(w) for w in CARD_QUALITY_STOPS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_list, t)))
    ok = F.when(hits * 100 >= F.size(toks) * 4, 1).otherwise(0)
    return (
        docs.select(
            "lang",
            "source",
            "n_chars",
            F.size(toks).alias("n_tokens"),
            F.md5("text").alias("digest"),
            ok.alias("ok"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("digest").cast("bigint").alias("n_unique"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("ok").cast("bigint").alias("n_quality_ok"),
            F.round(
                F.countDistinct("digest").cast("double") / F.count(F.lit(1)), 6
            ).alias("unique_ratio"),
        )
        .orderBy("lang", "source")
    )


TEMP_TAU_NOTE = "tau = 0.5, i.e. q_l ∝ sqrt(n_l) — pow at 0.5 IS sqrt (exact IEEE)"


@register(
    "x_temperature_sample",
    tags=("EXT", "A1", "O4", "F4"),
    oracle="""
        WITH lc AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY lang
        ),
        w AS (
            SELECT lang, n_docs,
                   CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total,
                   sqrt(CAST(n_docs AS DOUBLE)) AS s,
                   SUM(sqrt(CAST(n_docs AS DOUBLE)))
                       OVER (ORDER BY lang
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM lc
        ),
        z AS (SELECT lang, n_docs, n_total, s, MAX(cum) OVER () AS zsum FROM w)
        SELECT lang, n_docs,
               CAST(n_docs * 1000000 // n_total AS BIGINT) AS base_ppm,
               round(s / zsum, 6) AS weight_temp,
               round(s * CAST(n_total AS DOUBLE)
                     / (zsum * CAST(n_docs AS DOUBLE)), 6) AS boost
        FROM z ORDER BY lang
    """,
)
def x_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling weights (the multilingual
    training-mix recipe of Conneau & Lample, NeurIPS'19: q_l ∝ p_l^tau,
    tau=0.5): low-resource languages are upsampled relative to their
    natural share — the boost column is exactly that upsampling factor.
    tau=0.5 keeps the float surface honest: pow(x, 0.5) IS sqrt (IEEE
    correctly rounded), the normalizer is a CUMULATIVE window fold in
    lang order (the x_ndcg order-determinism recipe) surfaced to every
    row via MAX over the monotone cumsum, and each output is one fixed
    division tree — the weights themselves hash-match.

    100 TB design: one partial-aggregable groupBy collapses the corpus
    to |langs| rows; every window after that orders the tiny lang frame.
    The weights then FEED x_weighted_sample / x_mixture_sample's
    md5-threshold sampling — this query is the planning half, those are
    the apply half.

    Reference parity: no sampling surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT pipeline family."""
    docs = wide_docs(spark, sf_dir).select("lang")
    lc = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    wcum = W.orderBy("lang").rowsBetween(W.unboundedPreceding, W.currentRow)
    w = lc.select(
        "lang",
        "n_docs",
        F.sum("n_docs").over(W.partitionBy()).cast("bigint").alias("n_total"),
        F.sqrt(F.col("n_docs").cast("double")).alias("s"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).over(wcum).alias("cum"),
    )
    z = w.select(
        "lang", "n_docs", "n_total", "s", F.max("cum").over(W.partitionBy()).alias("zsum")
    )
    return z.select(
        "lang",
        "n_docs",
        F.expr("CAST(n_docs * 1000000 div n_total AS BIGINT)").alias("base_ppm"),
        F.round(F.col("s") / F.col("zsum"), 6).alias("weight_temp"),
        F.round(
            F.col("s")
            * F.col("n_total").cast("double")
            / (F.col("zsum") * F.col("n_docs").cast("double")),
            6,
        ).alias("boost"),
    ).orderBy("lang")


TOKEN_BUDGET = 2_000_000  # target training tokens to allocate across sources
BUDGET_CAP_PCT = 30  # no source may exceed this % of the budget


@register(
    "x_token_budget",
    tags=("EXT", "A1", "O4", "F7"),
    oracle=f"""
        WITH st AS (
            SELECT source,
                   CAST(SUM(len(list_filter(string_split(text, ' '),
                                            x -> x <> ''))) AS BIGINT) AS tok
            FROM documents GROUP BY source
        ),
        p1 AS (
            SELECT source, tok,
                   CAST(SUM(tok) OVER () AS BIGINT) AS t_total,
                   CAST({TOKEN_BUDGET} * tok
                        // SUM(tok) OVER () AS BIGINT) AS want
            FROM st
        ),
        capped AS (
            SELECT source, tok, t_total, want,
                   CAST({TOKEN_BUDGET} * {BUDGET_CAP_PCT} // 100 AS BIGINT) AS cap,
                   want > {TOKEN_BUDGET} * {BUDGET_CAP_PCT} // 100 AS is_capped
            FROM p1
        ),
        p2 AS (
            SELECT source, tok, want, cap, is_capped,
                   CAST({TOKEN_BUDGET}
                        - SUM(LEAST(want, cap)) OVER () AS BIGINT) AS leftover,
                   CAST(SUM(CASE WHEN is_capped THEN 0 ELSE tok END) OVER ()
                        AS BIGINT) AS tok_uncapped
            FROM capped
        )
        SELECT source, tok AS tokens_avail,
               CAST(LEAST(CASE WHEN is_capped OR tok_uncapped = 0
                               THEN LEAST(want, cap)
                               ELSE LEAST(want, cap) + leftover * tok // tok_uncapped
                          END, cap) AS BIGINT) AS alloc_tokens,
               is_capped,
               CAST(LEAST(CASE WHEN is_capped OR tok_uncapped = 0
                               THEN LEAST(want, cap)
                               ELSE LEAST(want, cap) + leftover * tok // tok_uncapped
                          END, cap) * 1000000 // {TOKEN_BUDGET} AS BIGINT)
                   AS fill_ppm
        FROM p2 ORDER BY source
    """,
)
def x_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation across corpus sources — the training-mix
    planning step: give each source its proportional share of
    TOKEN_BUDGET, cap any source at BUDGET_CAP_PCT% (domain-cap
    discipline, cf. x_domain_cap's row-level form), and redistribute
    the capped surplus proportionally among uncapped sources (one
    waterfilling round; the residual integer slack stays unallocated by
    design — allocation NEVER exceeds budget). Pure integer arithmetic
    (floor divisions), so every allocation hash-matches.

    100 TB design: one whitespace-token count pass partial-aggregates
    the corpus to |sources| rows; all allocation logic is window math
    over that tiny frame. The alloc_tokens feed x_weighted_sample's
    md5-threshold apply step per source.

    Reference parity: no planning surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT pipeline family."""
    docs = wide_docs(spark, sf_dir).select("source", "text")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    st = docs.groupBy("source").agg(F.sum(n_tok).cast("bigint").alias("tok"))
    cap = TOKEN_BUDGET * BUDGET_CAP_PCT // 100
    p1 = st.select(
        "source",
        "tok",
        F.sum("tok").over(W.partitionBy()).cast("bigint").alias("t_total"),
    ).select(
        "source",
        "tok",
        F.expr(f"CAST({TOKEN_BUDGET} * tok div t_total AS BIGINT)").alias("want"),
    )
    capped = p1.select(
        "source",
        "tok",
        "want",
        F.lit(cap).cast("bigint").alias("cap"),
        (F.col("want") > cap).alias("is_capped"),
    )
    p2 = capped.select(
        "source",
        "tok",
        "want",
        "cap",
        "is_capped",
        (
            F.lit(TOKEN_BUDGET)
            - F.sum(F.least("want", "cap")).over(W.partitionBy())
        )
        .cast("bigint")
        .alias("leftover"),
        F.sum(F.when(F.col("is_capped"), 0).otherwise(F.col("tok")))
        .over(W.partitionBy())
        .cast("bigint")
        .alias("tok_uncapped"),
    )
    base = F.least("want", "cap")
    alloc = F.least(
        F.when(
            F.col("is_capped") | (F.col("tok_uncapped") == 0), base
        ).otherwise(
            base + F.expr("CAST(leftover * tok div tok_uncapped AS BIGINT)")
        ),
        F.col("cap"),
    ).cast("bigint")
    return p2.select(
        "source",
        F.col("tok").alias("tokens_avail"),
        alloc.alias("alloc_tokens"),
        "is_capped",
        (alloc * 1_000_000 / F.lit(TOKEN_BUDGET))
        .cast("bigint")
        .alias("fill_ppm"),
    ).orderBy("source")


@register(
    "x_mann_whitney",
    tags=("EXT", "A5", "O4", "X4"),
    oracle="""
        WITH b AS (
            SELECT n_chars AS v,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100
                       AS bucket
            FROM documents
        ),
        lab AS (
            SELECT v, CASE WHEN bucket < 80 THEN 1 ELSE 0 END AS is_a
            FROM b WHERE bucket < 90
        ),
        per_v AS (
            SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca,
                   CAST(SUM(1 - is_a) AS BIGINT) AS cb,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM lab GROUP BY v
        ),
        cum AS (
            SELECT v, ca, cb, c,
                   CAST(COALESCE(SUM(c) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS cumprev
            FROM per_v
        ),
        s AS (
            SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cb) AS BIGINT) AS nb,
                   CAST(SUM(ca * (2 * cumprev + c + 1)) AS BIGINT) AS r1x2,
                   CAST(SUM(c * c * c - c) AS BIGINT) AS ties
            FROM cum
        )
        SELECT na, nb,
               CAST(r1x2 - na * (na + 1) AS BIGINT) AS u1_x2,
               round((CAST(r1x2 - na * (na + 1) AS DOUBLE) - CAST(na * nb AS DOUBLE))
                     / (2.0 * sqrt((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0)
                        * (CAST(na + nb + 1 AS DOUBLE)
                           - CAST(ties AS DOUBLE)
                             / (CAST(na + nb AS DOUBLE)
                                * CAST(na + nb - 1 AS DOUBLE))))), 6) AS z
        FROM s
    """,
)
def x_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between the train and validation
    hash splits of the document-length distribution — the
    NONPARAMETRIC location-shift gate next to x_ks_drift's max-gap
    statistic (U is sensitive to median shift, KS to any shape
    change; a healthy md5 split should pass both, |z| < ~2). Tie
    handling is exact: ranks never materialize per row — on the
    grouped value frame the doubled average rank of a tie group is the
    integer 2·cumprev + c + 1, so the doubled rank sum, U·2, and the
    tie-correction term Σ(c³−c) are all exact bigints; the z-score is
    one fixed sqrt/division tree at the end.

    100 TB design: one partial-aggregable groupBy collapses the corpus
    to |distinct values| rows; the tie-group prefix is a two_level_rank
    over that grid (it grows with distinct values — no single-task
    sort); the statistic reduces to ONE row map-side. Same shape as
    x_ks_drift, sharing its split convention.

    Reference parity: no statistics surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT pipeline-monitoring family."""
    docs = wide_docs(spark, sf_dir).select("doc_id", "n_chars")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    lab = docs.select(
        F.col("n_chars").alias("v"), bucket.alias("bucket")
    ).filter(F.col("bucket") < 90).select(
        "v", F.when(F.col("bucket") < 80, 1).otherwise(0).alias("is_a")
    )
    per_v = lab.groupBy("v").agg(
        F.sum("is_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("is_a")).cast("bigint").alias("cb"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    # exclusive prefix of the tie-group sizes via two_level_rank — the
    # round-12 retirement of the unpartitioned cumulative window over
    # the distinct-value grid
    cum = two_level_rank(per_v, ["v"], weight="c", out_col="cumprev").select(
        "ca", "cb", "c", "cumprev"
    )
    s = cum.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.sum(F.col("ca") * (2 * F.col("cumprev") + F.col("c") + 1))
        .cast("bigint")
        .alias("r1x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("bigint")
        .alias("ties"),
    )
    u1x2 = F.col("r1x2") - F.col("na") * (F.col("na") + 1)
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    nn = nad + nbd
    sigma = F.sqrt(
        (nad * nbd / 12.0)
        * ((nn + 1.0) - F.col("ties").cast("double") / (nn * (nn - 1.0)))
    )
    return s.select(
        "na",
        "nb",
        u1x2.cast("bigint").alias("u1_x2"),
        F.round(
            (u1x2.cast("double") - nad * nbd) / (2.0 * sigma), 6
        ).alias("z"),
    )


@register(
    "x_drop_manifest",
    tags=("EXT", "A1", "F3", "S6"),
    oracle="""
        WITH d AS (
            SELECT source, md5(text) AS h
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique,
               md5(string_agg(h, '' ORDER BY h)) AS manifest_md5
        FROM d GROUP BY source ORDER BY source
    """,
)
def x_drop_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable drop manifest (the dataset-versioning
    commit hash): per source, the md5 of the SORTED concatenation of
    every document's content digest — two drops with identical
    manifests are bit-identical corpora regardless of row order or
    file layout, and a one-doc change flips the manifest. The cheap
    equality primitive backing x_snapshot_diff (which answers the
    row-level WHY once manifests differ) and the lineage stamp a
    training run records next to x_dataset_card.

    Determinism: content digests sort lexicographically the same
    everywhere; Spark folds them via sort_array(collect_list()) +
    concat, DuckDB via ORDER BY string_agg — identical byte strings
    into the outer md5.

    100 TB design: digests (16 B) are the only thing shuffled, one
    partial-aggregable pass; the per-group sorted concat is
    group-bounded (~32 B x docs-per-source) — past memory bounds the
    same manifest becomes a Merkle tree (md5 of sorted per-shard
    manifest md5s), associative by construction with the same
    equality semantics; documented, not needed at test scale.

    Reference parity: no versioning surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT versioning family."""
    docs = wide_docs(spark, sf_dir).select("source", F.md5("text").alias("h"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("h").cast("bigint").alias("n_unique"),
            F.md5(
                F.concat_ws("", F.sort_array(F.collect_list("h")))
            ).alias("manifest_md5"),
        )
        .orderBy("source")
    )


GROUP_SAMPLE_K = 5  # exact per-stratum quota


@register(
    "x_group_sample",
    tags=("EXT", "X4", "O3", "O2"),
    oracle=f"""
        WITH h AS (
            SELECT lang, source, doc_id, n_chars,
                   ('0x' || substr(md5('gsamp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       AS hv
            FROM documents
        ),
        r AS (
            SELECT lang, source, doc_id, n_chars,
                   CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
                                           ORDER BY hv, doc_id) AS BIGINT)
                       AS sample_rank
            FROM h
        )
        SELECT lang, source, sample_rank, doc_id, n_chars
        FROM r WHERE sample_rank <= {GROUP_SAMPLE_K}
        ORDER BY lang, source, sample_rank
    """,
)
def x_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota per-stratum sampling: a uniform {GROUP_SAMPLE_K}-document
    sample from EVERY (lang, source) stratum via min-wise hashing — the
    k smallest salted-md5 values per group are a uniform without-
    replacement draw (Broder's min-wise property), where
    x_stratified_sample's Bernoulli draw gives a binomial count that
    can be 0 for thin strata. This is the "eyeball N docs from every
    domain" audit sampler and the per-stratum eval-set builder;
    membership is reproducible across engines, runs, and
    repartitionings, and stable under corpus growth (a doc's hash
    never changes, it can only be displaced by a new smaller one).

    Determinism: ranking key (hv, doc_id) is a unique integer pair; no
    floats anywhere.

    100 TB design: Catalyst rewrites the rank<=k filter to
    WindowGroupLimit, so each map task keeps a k-row heap per group
    BEFORE the (lang, source)-keyed shuffle — the exchange carries
    O(k * strata * tasks) rows, not the corpus (same physical shape as
    the x_rank_per_group top-k, pinned in tests/test_scale_plans.py
    patterns). Bodies ride only for the k winners when the sample
    projects them.

    Reference parity: no sampling surface in the reference; SURVEY.md
    §2.10 X4 sharding/sampling family."""
    docs = _t(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("gsamp:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    r = docs.select(
        "lang",
        "source",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(W.partitionBy("lang", "source").orderBy(hv.asc(), F.col("doc_id").asc()))
        .cast("bigint")
        .alias("sample_rank"),
    )
    return (
        r.filter(F.col("sample_rank") <= GROUP_SAMPLE_K)
        .select("lang", "source", "sample_rank", "doc_id", "n_chars")
        .orderBy("lang", "source", "sample_rank")
    )


# --- round 6 additions -------------------------------------------------

PII_CARD_MOD = 7  # docs with doc_id % 7 == 0 get a synthetic card number
PII_IP_MOD = 11  # docs with doc_id % 11 == 0 get a synthetic IPv4


def _luhn_sql(col: str) -> str:
    """DuckDB expression: Luhn checksum validity of a 16-digit string.

    Positions are numbered from the RIGHT: even offsets (0,2,..) keep
    the digit, odd offsets double it and subtract 9 when the double
    exceeds 9. Written as 16 explicit integer terms so both engines
    evaluate the identical expression tree (no loops, no floats)."""
    terms = []
    for i in range(1, 17):
        d = f"CAST(substr({col}, {i}, 1) AS BIGINT)"
        if (16 - i) % 2 == 1:  # odd offset from the right: double
            terms.append(f"(CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 ELSE {d} * 2 END)")
        else:
            terms.append(d)
    return f"(({' + '.join(terms)}) % 10 = 0)"


def _luhn_spark(col: F.Column) -> F.Column:
    """Spark twin of _luhn_sql — same 16-term integer tree. try_cast, not
    cast: ANSI mode hard-fails casting the '' a no-match regexp_extract
    yields, and when() conditions do not short-circuit — the NULL result
    is then masked by the card <> '' conjunct at every call site."""
    total = F.lit(0)
    for i in range(1, 17):
        d = F.substring(col, i, 1).try_cast("bigint")
        if (16 - i) % 2 == 1:
            term = F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
        else:
            term = d
        total = total + term
    return total % 10 == 0


@register(
    "x_pii_scan",
    tags=("EXT", "X4", "F3", "F4"),
    oracle=f"""
        WITH aug AS (
            SELECT lang,
                   text
                   || CASE WHEN doc_id % {PII_CARD_MOD} = 0
                           THEN ' card ' || lpad(CAST(doc_id * 37 % 10000000000000000
                                                      AS VARCHAR), 16, '0')
                           ELSE '' END
                   || CASE WHEN doc_id % {PII_IP_MOD} = 0
                           THEN ' from ' || CAST(doc_id % 224 + 1 AS VARCHAR) || '.'
                                || CAST(doc_id % 256 AS VARCHAR) || '.'
                                || CAST(doc_id * 7 % 256 AS VARCHAR) || '.'
                                || CAST(doc_id * 13 % 254 + 1 AS VARCHAR)
                           ELSE '' END AS text_aug
            FROM documents
        ), hits AS (
            SELECT lang,
                   regexp_extract(text_aug, '[0-9]{{16}}') AS card,
                   len(regexp_extract_all(text_aug,
                       '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}')) AS n_ips
            FROM aug
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN card <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_cards,
               CAST(SUM(CASE WHEN card <> '' AND {_luhn_sql("card")}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_cards_luhn_valid,
               CAST(SUM(n_ips) AS BIGINT) AS n_ips
        FROM hits GROUP BY lang ORDER BY lang
    """,
)
def x_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated PII scan: detect card-shaped 16-digit numbers
    and validate them with the Luhn checksum (the step that separates
    real card leaks from order ids and timestamps — a release gate
    counts only CHECKSUM-VALID hits), plus IPv4 literals. Synthetic PII
    is injected deterministically from doc_id (x_redact's convention:
    the corpus is clean synthetic text, the scan expressions are exactly
    what a production pipeline runs); ~1/7 of docs get a card (Luhn
    validity then varies naturally with the digits), ~1/11 an IP.

    The Luhn check is 16 explicit integer terms (no loops, no floats)
    evaluated identically on both engines — see _luhn_sql/_luhn_spark.

    100 TB design: map-only regex + integer expressions in whole-stage
    codegen, one partial-aggregable per-lang summary; no Python, no
    shuffle before the 5-row agg. Reference parity: no PII surface in
    the reference; SURVEY.md §2.10 X4 privacy/quality family."""
    docs = _docs(spark, sf_dir)
    card_tail = F.lpad(((F.col("doc_id") * 37) % F.lit(10**16)).cast("string"), 16, "0")
    ip_str = F.concat_ws(
        ".",
        (F.col("doc_id") % 224 + 1).cast("string"),
        (F.col("doc_id") % 256).cast("string"),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        ((F.col("doc_id") * 13) % 254 + 1).cast("string"),
    )
    aug = docs.select(
        "lang",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % PII_CARD_MOD == 0, F.concat(F.lit(" card "), card_tail)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % PII_IP_MOD == 0, F.concat(F.lit(" from "), ip_str)).otherwise(F.lit("")),
        ).alias("text_aug"),
    )
    hits = aug.select(
        "lang",
        F.regexp_extract("text_aug", r"[0-9]{16}", 0).alias("card"),
        F.size(
            F.regexp_extract_all(
                "text_aug", F.lit(r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"), F.lit(0)
            )
        ).alias("n_ips"),
    )
    return (
        hits.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("card") != "", 1).otherwise(0)).cast("bigint").alias("n_cards"),
            F.sum(
                F.when((F.col("card") != "") & _luhn_spark(F.col("card")), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_cards_luhn_valid"),
            F.sum("n_ips").cast("bigint").alias("n_ips"),
        )
        .orderBy("lang")
    )


CONTAM_FRAC_MIN = 0.2  # overlap fraction >= this -> dirty (GPT-3 App. C style)


@register(
    "x_contamination_overlap",
    tags=("EXT", "X4", "X2", "J5"),
    oracle=f"""
        WITH sh AS (
            SELECT DISTINCT doc_id, lang,
                   md5(array_to_string(
                       string_split(text, ' ')[i : i + {CONTAM_NGRAM} - 1],
                       ' ')) AS sh_hash
            FROM (
                SELECT doc_id, lang, text,
                       unnest(generate_series(
                           1, GREATEST(len(string_split(text, ' '))
                                       - {CONTAM_NGRAM} + 1, 1))) AS i
                FROM documents
            ) t
        ),
        bench AS (
            SELECT DISTINCT sh_hash FROM sh WHERE doc_id % {BENCH_MOD} = 0
        ),
        per_doc AS (
            SELECT c.doc_id, c.lang,
                   CAST(COUNT(*) AS BIGINT) AS n_total,
                   CAST(SUM(CASE WHEN b.sh_hash IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit
            FROM sh c LEFT JOIN bench b ON c.sh_hash = b.sh_hash
            WHERE c.doc_id % {BENCH_MOD} <> 0
            GROUP BY c.doc_id, c.lang
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN CAST(n_hit AS DOUBLE) / n_total
                                  >= {CONTAM_FRAC_MIN} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dirty,
               CAST(SUM(CAST(round(CAST(n_hit AS DOUBLE) / n_total, 6)
                             AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                   AS avg_overlap_frac
        FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def x_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination DEGREE scoring (GPT-3 Appendix C "dirtiness"):
    x_decontaminate's boolean verdict generalized to the overlap
    FRACTION — the share of a document's distinct CONTAM_NGRAM-word
    shingles that also appear in the benchmark set — summarized per
    language as dirty-doc counts (fraction >= CONTAM_FRAC_MIN) and the
    average fraction. The fraction, not the absolute count, is what a
    release report publishes: long documents are not penalized for
    length.

    Determinism: n_hit/n_total is one int/int double division (exact
    and identical on both engines), compared against the literal
    threshold and rounded to 6 before the DECIMAL-stabilized average
    (the registry's order-independent float recipe).

    100 TB design: identical shuffle shape to x_decontaminate — the
    benchmark shingle set broadcasts, the corpus side is scan + explode
    + one doc-keyed partial-agg count over 16-byte digests; the LEFT
    join keeps zero-overlap docs so the denominator is every scanned
    doc, not just docs with hits."""
    docs = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    n_sh = F.greatest(F.size(toks) - CONTAM_NGRAM + 1, F.lit(1))
    sh_arr = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, CONTAM_NGRAM))),
    )
    sh = docs.select("doc_id", "lang", F.explode(sh_arr).alias("sh_hash")).dropDuplicates(
        ["doc_id", "sh_hash"]
    )
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.col("sh_hash").alias("b_hash"))
        .distinct()
    )
    per_doc = (
        sh.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), F.col("sh_hash") == F.col("b_hash"), "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.when(F.col("b_hash").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit"),
        )
    )
    frac = F.col("n_hit").cast("double") / F.col("n_total")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(frac >= CONTAM_FRAC_MIN, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dirty"),
            (
                F.sum(F.round(frac, 6).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_overlap_frac"),
        )
        .orderBy("lang")
    )


LEN_BUCKET_EDGES = (64, 128, 256, 512)  # token-count bucket boundaries


@register(
    "x_length_mixture",
    tags=("EXT", "X4", "A1", "F7"),
    oracle=f"""
        WITH t AS (
            SELECT lang,
                   len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
            FROM documents
        ), b AS (
            SELECT lang, n_tok,
                   CASE WHEN n_tok < {LEN_BUCKET_EDGES[0]} THEN 'len_000'
                        WHEN n_tok < {LEN_BUCKET_EDGES[1]} THEN 'len_064'
                        WHEN n_tok < {LEN_BUCKET_EDGES[2]} THEN 'len_128'
                        WHEN n_tok < {LEN_BUCKET_EDGES[3]} THEN 'len_256'
                        ELSE 'len_512' END AS bucket
            FROM t
        ), g AS (
            SELECT lang, bucket,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tokens
            FROM b GROUP BY lang, bucket
        ), tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS all_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM g
        )
        SELECT lang, bucket, n_docs, n_tokens,
               round(CAST(all_tokens AS DOUBLE) / n_cells / n_tokens, 6)
                   AS uniform_weight
        FROM g, tot ORDER BY lang, bucket
    """,
)
def x_length_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length mixture audit for training-batch planning: docs
    histogrammed into token-length buckets per language, with the
    per-cell reweighting factor that would equalize token mass across
    cells (weight = uniform-target tokens / cell tokens — the knob a
    curriculum or packing scheduler consumes; weights > 1 mark
    underrepresented cells to upsample).

    Determinism: counts and token sums are pure bigints; the weight is
    two chained double divisions of bigints, rounded to 6 (both engines
    evaluate the identical tree). The grand total rides a broadcast
    1-row cross join, NOT an unpartitioned window.

    100 TB design: one scan, one (lang, bucket)-keyed partial agg
    (25 cells), one broadcast of a single row. The bucket CASE uses
    fixed literal edges so the scan stays a map stage — no range agg
    dependency like x_quantile_binning's."""
    docs = _docs(spark, sf_dir)
    n_tok = F.size(F.expr("filter(split(text, ' '), x -> x != '')"))
    e = LEN_BUCKET_EDGES
    bucket = (
        F.when(n_tok < e[0], "len_000")
        .when(n_tok < e[1], "len_064")
        .when(n_tok < e[2], "len_128")
        .when(n_tok < e[3], "len_256")
        .otherwise("len_512")
    )
    g = cached(  # 25 cells, read by both the total agg and the output
        docs.select("lang", n_tok.alias("n_tok"), bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    tot = g.agg(
        F.sum("n_tokens").cast("bigint").alias("all_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "bucket",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("all_tokens").cast("double") / F.col("n_cells") / F.col("n_tokens"),
                6,
            ).alias("uniform_weight"),
        )
        .orderBy("lang", "bucket")
    )


DSIR_BUCKETS = 64  # hashed n-gram feature dimension (DSIR's 10k, scaled to testdata)
DSIR_TARGET_LANG = "en"  # target-domain stand-in: the English slice


@register(
    "x_dsir_weights",
    tags=("EXT", "X4", "F3", "F4"),
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), counts AS (
            SELECT doc_id, lang,
                   ('0x' || substr(md5(tok), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY doc_id, lang, bucket
        ), buckets AS (
            SELECT bucket,
                   CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c ELSE 0 END)
                        AS BIGINT) AS n_t,
                   CAST(SUM(c) AS BIGINT) AS n_r
            FROM counts GROUP BY bucket
        ), totals AS (
            SELECT CAST(SUM(n_t) AS BIGINT) AS t_tot,
                   CAST(SUM(n_r) AS BIGINT) AS r_tot
            FROM buckets
        ), lr AS (
            SELECT bucket,
                   round(ln(CAST((n_t + 1) * (r_tot + {DSIR_BUCKETS}) AS DOUBLE)
                          / CAST((n_r + 1) * (t_tot + {DSIR_BUCKETS}) AS DOUBLE)), 6)
                       AS lr
            FROM buckets CROSS JOIN totals
        ), docw AS (
            SELECT doc_id, lang,
                   SUM(CAST(round(CAST(c AS DOUBLE) * lr, 6) AS DECIMAL(24,6))) AS w
            FROM counts JOIN lr USING (bucket)
            GROUP BY doc_id, lang
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
               round(CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS sel_frac,
               round(CAST(SUM(w) AS DOUBLE) / COUNT(*), 6) AS avg_weight
        FROM docw GROUP BY lang ORDER BY lang
    """,
)
def x_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et al.,
    NeurIPS 2023, public): score every raw document by how target-like
    its hashed-feature distribution is, the selection stage that sits
    between dedup/quality-filter and mixture sampling in a pretraining
    pipeline. Features are word unigrams hashed into DSIR_BUCKETS
    buckets; the target distribution is the DSIR_TARGET_LANG slice,
    the raw distribution is the whole corpus. Per-doc importance weight
    w(d) = sum_b c_db * ln(p_target(b) / p_raw(b)) with Laplace +1
    smoothing; w > 0 means "more target-like than raw" and is the
    selection rule reported per language (n_selected, sel_frac,
    avg_weight).

    Determinism: the log-ratio per bucket is ONE ln() of a ratio of
    exact bigint products, rounded to 6 dp (the repo's transcendental
    recipe); per-doc weights are DECIMAL(24,6) sums of 6-dp terms —
    exact and order-free — and every division happens once at the end.

    100 TB design: the text is exploded ONCE into a persisted
    (doc_id, bucket, count) frame (the map-side-combinable shuffle is
    doc-keyed, so it is the same exchange the per-doc aggregation
    needs); bucket statistics collapse to DSIR_BUCKETS rows whose
    log-ratio table broadcasts back, so the only wide operations are
    two partial aggs — there is no second pass over the raw text and
    no driver-side state. Hashing replaces DSIR's 10k-bucket n-gram
    space with a 64-bucket one purely because the testdata is small;
    the plan is bucket-count-independent. Reference parity: no
    selection surface in the reference (SURVEY.md §2.10 X4 mandate).
    """
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    )
    counts = cached(  # read twice: bucket stats and per-doc weights
        tok.groupBy("doc_id", "lang", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    buckets = counts.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_t"),
        F.sum("c").cast("bigint").alias("n_r"),
    )
    totals = buckets.agg(
        F.sum("n_t").cast("bigint").alias("t_tot"),
        F.sum("n_r").cast("bigint").alias("r_tot"),
    )
    lr = buckets.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("n_t") + 1) * (F.col("r_tot") + DSIR_BUCKETS)).cast("double")
                / ((F.col("n_r") + 1) * (F.col("t_tot") + DSIR_BUCKETS)).cast("double")
            ),
            6,
        ).alias("lr"),
    )
    docw = (
        counts.join(F.broadcast(lr), "bucket")
        .select(
            "doc_id",
            "lang",
            F.round(F.col("c").cast("double") * F.col("lr"), 6)
            .cast("decimal(24,6)")
            .alias("term"),
        )
        .groupBy("doc_id", "lang")
        .agg(F.sum("term").alias("w"))
    )
    return (
        docw.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("w") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_selected"),
            F.sum("w").alias("__wsum"),
        )
        .select(
            "lang",
            "n_docs",
            "n_selected",
            F.round(F.col("n_selected").cast("double") / F.col("n_docs"), 6).alias(
                "sel_frac"
            ),
            F.round(F.col("__wsum").cast("double") / F.col("n_docs"), 6).alias(
                "avg_weight"
            ),
        )
        .orderBy("lang")
    )
