"""Dedup index-quality harnesses (SURVEY.md §2.14): measured recall of
the production MinHash-LSH band index against enumerable ground truth,
the analytic AND empirical LSH S-curves, and the equal-budget band/row
tuning sweep — the jobs a corpus pipeline runs after every (bands,
rows, caps) re-tune to see where the curve's knee actually sits on ITS
data, not the iid model.

Split from operators/dedup.py in round 8 (consolidation): the dedup
pipelines live there; this module only COMPOSES the registered stages
(shingle_frame / md5_band_frame / candidate_pairs) with ground-truth
joins, so every harness is the already-audited capped join shapes plus
a small rollup. At full corpus scale these run on a deterministic
hash-sampled slice (x_quantile_sample's md5-bucket pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.relational import _t
from ..registry import register
from .dedup import (
    MAX_BAND_FREQ,
    MAX_SHINGLE_FREQ,
    N_MINHASH_MD5,
    SHINGLE_LEN,
    candidate_pairs,
    md5_band_frame,
    shingle_frame,
    wide_docs,
)
from .ranking import track_cache

_docs = wide_docs

@register(
    "x_dedup_recall",
    tags=("EXT", "X2", "A1"),
    oracle=f"""
        WITH toks AS (SELECT doc_id AS id, string_split(text, ' ') AS t FROM documents),
        shset AS (
            SELECT id,
                   list_distinct([array_to_string(t[i:i+{SHINGLE_LEN - 1}], chr(31))
                                  for i in range(1, len(t) - {SHINGLE_LEN - 2})]) AS sh
            FROM toks WHERE len(t) >= {SHINGLE_LEN}
        ),
        sh AS (SELECT id, unnest(sh) AS g FROM shset),
        rare AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= {MAX_SHINGLE_FREQ}),
        filtered AS (SELECT sh.id, sh.g FROM sh JOIN rare USING (g)),
        tpairs AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM filtered a JOIN filtered b ON a.g = b.g AND a.id < b.id
        ),
        truth AS (
            SELECT id_a, id_b FROM (
                SELECT id_a, id_b,
                       len(list_filter(x.sh, g -> list_contains(y.sh, g))) AS ni,
                       len(x.sh) + len(y.sh)
                           - len(list_filter(x.sh, g -> list_contains(y.sh, g))) AS nu
                FROM tpairs JOIN shset x ON x.id = tpairs.id_a
                            JOIN shset y ON y.id = tpairs.id_b
            ) WHERE ni * 5 >= nu * 3
        ),
        mh AS (
            SELECT id, s.s AS seed, min(md5(CAST(s.s AS VARCHAR) || ':' || g)) AS h
            FROM sh CROSS JOIN (SELECT unnest(range(0, {N_MINHASH_MD5})) AS s) s
            GROUP BY id, s.s
        ),
        bands AS (
            SELECT id, seed // 2 AS band_id,
                   md5(string_agg(h, ',' ORDER BY seed)) AS band_hash
            FROM mh GROUP BY id, seed // 2
        ),
        bands_f AS (
            SELECT id, band_id, band_hash FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bsz
                FROM bands
            ) WHERE bsz <= {MAX_BAND_FREQ}
        ),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands_f a JOIN bands_f b ON a.band_id = b.band_id
                          AND a.band_hash = b.band_hash AND a.id < b.id
        ),
        hit AS (SELECT c.id_a, c.id_b FROM cand c
                JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b),
        counts AS (
            SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
                   (SELECT COUNT(*) FROM cand) AS n_cand,
                   (SELECT COUNT(*) FROM hit) AS n_hit
        )
        SELECT n_truth, n_cand, n_hit,
               round(CASE WHEN n_cand = 0 THEN NULL
                          ELSE CAST(n_hit AS DOUBLE) / n_cand END, 6) AS cand_precision,
               round(CASE WHEN n_truth = 0 THEN NULL
                          ELSE CAST(n_hit AS DOUBLE) / n_truth END, 6) AS cand_recall
        FROM counts
    """,
)
def x_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality harness for the banded-MinHash dedup path (the
    x_ann_recall analog for near-dup): candidate pairs from the md5
    band index (x_dedup_minhash_md5's stage, pre-verification) scored
    against the exact-Jaccard ground truth (J >= 0.6 over full shingle
    sets, generated via the rare-shingle inverted index) — one row of
    corpus-level precision/recall for the LSH configuration. This is
    the monitoring query a production dedup pipeline runs on a sampled
    corpus slice after every re-tune of (bands, rows, caps): recall
    says what the bands miss, precision says how much exact-verify work
    each candidate costs.

    100 TB design: composes two already-linear stages (banded LSH
    candidates; frequency-capped inverted-index truth pairs) and three
    COUNT aggregates — no new join shape, no all-pairs anywhere. Both
    caps (MAX_SHINGLE_FREQ, MAX_BAND_FREQ) are shared with the
    production queries, so the harness measures exactly the plan it
    monitors. The md5 minhash family keeps every intermediate
    engine-portable: even the PRECISION/RECALL numbers hash-match the
    oracle. At full corpus scale the same query runs on a hash-sampled
    slice (x_quantile_sample's deterministic md5-bucket pattern).
    """
    docs = _docs(spark, sf_dir)
    shset = track_cache(shingle_frame(docs, "doc_id", "text"))
    exploded = track_cache(shset.select("id", F.explode("sh").alias("g")))
    rare = (
        exploded.groupBy("g")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") <= MAX_SHINGLE_FREQ)
        .select("g")
    )
    filtered = exploded.join(rare, "g")
    tpairs = candidate_pairs(filtered, ["g"], "id")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # round 14: two consumers (n_truth and the hit join) — without the
    # persist the array-intersect exact-verify arm runs twice (AQE reuses
    # the identical upstream exchange, but the post-exchange verify work
    # is per-consumer)
    truth = track_cache(
        tpairs.join(shset.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(shset.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .filter(inter * 5 >= (F.size("sh_a") + F.size("sh_b") - inter) * 3)
        .select("id_a", "id_b")
    )
    bands = md5_band_frame(shset)
    cand = track_cache(candidate_pairs(
        bands, ["band_id", "band_hash"], "id", cap=MAX_BAND_FREQ, cap_style="window"
    ))
    hit = cand.join(truth, ["id_a", "id_b"])
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return n_truth.crossJoin(n_cand).crossJoin(n_hit).select(
        "n_truth",
        "n_cand",
        "n_hit",
        F.round(
            F.when(F.col("n_cand") == 0, F.lit(None)).otherwise(
                F.col("n_hit").cast("double") / F.col("n_cand")
            ),
            6,
        ).alias("cand_precision"),
        F.round(
            F.when(F.col("n_truth") == 0, F.lit(None)).otherwise(
                F.col("n_hit").cast("double") / F.col("n_truth")
            ),
            6,
        ).alias("cand_recall"),
    )


@register(
    "x_lsh_curve",
    tags=("EXT", "F4", "X2"),
    oracle="""
        WITH grid AS (
            SELECT CAST((n_nationkey + 1) * 5 AS INTEGER) AS s_pct,
                   CAST((n_nationkey + 1) * 5 AS DOUBLE) / 100.0 AS s
            FROM nation WHERE n_nationkey < 19
        ),
        powed AS (
            SELECT s_pct, s, (s * s) * (s * s) AS s_r FROM grid
        ),
        banded AS (
            SELECT s_pct, s_r,
                   (1.0 - s_r) * (1.0 - s_r) AS t2
            FROM powed
        )
        SELECT s_pct,
               round(s_r, 6) AS p_band_match,
               round(1.0 - (t2 * t2) * (t2 * t2), 6) AS p_candidate,
               1.0 - (t2 * t2) * (t2 * t2) >= 0.5 AS above_half
        FROM banded ORDER BY s_pct
    """,
)
def x_lsh_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytical S-curve of the production MinHash-LSH config
    (N_BANDS=8 bands x 4 rows: P(candidate | Jaccard=s) =
    1-(1-s^4)^8), evaluated on a 5%-step similarity grid — the tuning
    exhibit that justifies the \"catches Jaccard >~ 0.6\" claim
    stamped on the dedup family (dedup.py:29): the curve crosses 1/2
    between 50% and 55% and reaches ~0.67 at s=0.6. Exponentiation is spelled as explicit
    squaring chains (s^4 = (s*s)*(s*s); t^8 = ((t*t)*(t*t))... ) in
    BOTH engines — never POWER(), whose exp/log path is not
    bit-portable — so the curve itself hash-matches.

    100 TB relevance: this is how you retune (b, r) before a run —
    the curve is closed-form, evaluated over a 19-row grid; zero data
    touched beyond the constant grid carrier.

    Reference parity: analytical exhibit for SURVEY.md §2 X2;
    Leskovec-Rajaraman-Ullman ch.3 construction."""
    nation = _t(spark, sf_dir, "nation").select("n_nationkey")
    grid = nation.filter(F.col("n_nationkey") < 19).select(
        ((F.col("n_nationkey") + 1) * 5).cast("int").alias("s_pct"),
        (((F.col("n_nationkey") + 1) * 5).cast("double") / 100.0).alias("s"),
    )
    s_r = (F.col("s") * F.col("s")) * (F.col("s") * F.col("s"))
    powed = grid.select("s_pct", s_r.alias("s_r"))
    t2 = (1.0 - F.col("s_r")) * (1.0 - F.col("s_r"))
    banded = powed.select("s_pct", "s_r", t2.alias("t2"))
    p_cand = 1.0 - (F.col("t2") * F.col("t2")) * (F.col("t2") * F.col("t2"))
    return banded.select(
        "s_pct",
        F.round("s_r", 6).alias("p_band_match"),
        F.round(p_cand, 6).alias("p_candidate"),
        (p_cand >= 0.5).alias("above_half"),
    ).orderBy("s_pct")


@register(
    "x_lsh_curve_empirical",
    tags=("EXT", "X2", "A1", "F4"),
    oracle=f"""
        WITH toks AS (SELECT doc_id AS id, string_split(text, ' ') AS t FROM documents),
        shset AS (
            SELECT id,
                   list_distinct([array_to_string(t[i:i+{SHINGLE_LEN - 1}], chr(31))
                                  for i in range(1, len(t) - {SHINGLE_LEN - 2})]) AS sh
            FROM toks WHERE len(t) >= {SHINGLE_LEN}
        ),
        sh AS (SELECT id, unnest(sh) AS g FROM shset),
        rare AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= {MAX_SHINGLE_FREQ}),
        filtered AS (SELECT sh.id, sh.g FROM sh JOIN rare USING (g)),
        tpairs AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM filtered a JOIN filtered b ON a.g = b.g AND a.id < b.id
        ),
        jbuck AS (
            SELECT id_a, id_b, LEAST(9, (ni * 10) // nu) AS bucket FROM (
                SELECT id_a, id_b,
                       len(list_filter(x.sh, g -> list_contains(y.sh, g))) AS ni,
                       len(x.sh) + len(y.sh)
                           - len(list_filter(x.sh, g -> list_contains(y.sh, g))) AS nu
                FROM tpairs JOIN shset x ON x.id = tpairs.id_a
                            JOIN shset y ON y.id = tpairs.id_b
            ) WHERE nu > 0 AND ni * 10 >= nu * 3
        ),
        mh AS (
            SELECT id, s.s AS seed, min(md5(CAST(s.s AS VARCHAR) || ':' || g)) AS h
            FROM sh CROSS JOIN (SELECT unnest(range(0, {N_MINHASH_MD5})) AS s) s
            GROUP BY id, s.s
        ),
        bands AS (
            SELECT id, seed // 2 AS band_id,
                   md5(string_agg(h, ',' ORDER BY seed)) AS band_hash
            FROM mh GROUP BY id, seed // 2
        ),
        bands_f AS (
            SELECT id, band_id, band_hash FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bsz
                FROM bands
            ) WHERE bsz <= {MAX_BAND_FREQ}
        ),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands_f a JOIN bands_f b ON a.band_id = b.band_id
                          AND a.band_hash = b.band_hash AND a.id < b.id
        )
        SELECT j.bucket,
               round(j.bucket / 10.0, 1) AS jaccard_lo,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_caught,
               round(CAST(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS capture_rate
        FROM jbuck j LEFT JOIN cand c
          ON c.id_a = j.id_a AND c.id_b = j.id_b
        GROUP BY j.bucket ORDER BY j.bucket
    """,
)
def x_lsh_curve_empirical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEASURED LSH S-curve: capture rate of the production band
    index per exact-Jaccard decile (0.3 up), on the corpus itself —
    the empirical validation of x_lsh_curve's analytic
    P(candidate|s) = 1-(1-s^4)^8 and the full-curve generalization of
    x_dedup_recall's single J>=0.6 operating point (truth there IS
    buckets >= 6 here: ni*10 >= 6*nu, pinned in tests). Run after any
    (bands, rows, caps) re-tune to see where the curve's knee actually
    sits on YOUR data, not the iid model.

    Determinism: Jaccard deciles come from integer cross-multiplied
    (ni, nu) — no float thresholds; the md5 minhash family keeps bands
    engine-portable; capture rates are single divisions of exact
    counts.

    Truth-side caveat (documented bias): ground-truth pairs are
    enumerable only through the rare-shingle inverted index, so pairs
    sharing NO rare shingle never enter any bucket — exact at J >= 0.5,
    conservative below; the curve starts at 0.3 where coverage is
    still meaningful.

    100 TB design: composes the two already-linear capped stages
    (inverted-index truth pairs, banded candidates) plus one
    pair-keyed left join and a 7-row rollup — no new join shape; at
    full corpus scale the harness runs on a deterministic hash-sampled
    slice like x_dedup_recall."""
    docs = _docs(spark, sf_dir)
    shset = track_cache(shingle_frame(docs, "doc_id", "text"))
    exploded = track_cache(shset.select("id", F.explode("sh").alias("g")))
    rare = (
        exploded.groupBy("g")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") <= MAX_SHINGLE_FREQ)
        .select("g")
    )
    filtered = exploded.join(rare, "g")
    tpairs = candidate_pairs(filtered, ["g"], "id")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jbuck = (
        tpairs.join(
            shset.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(shset.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("ni"),
            (F.size("sh_a") + F.size("sh_b") - inter).alias("nu"),
        )
        .filter((F.col("nu") > 0) & (F.col("ni") * 10 >= F.col("nu") * 3))
        .select(
            "id_a",
            "id_b",
            F.least(F.lit(9), F.expr("(ni * 10) div nu")).alias("bucket"),
        )
    )
    bands = md5_band_frame(shset)
    cand = candidate_pairs(
        bands, ["band_id", "band_hash"], "id", cap=MAX_BAND_FREQ, cap_style="window"
    ).withColumn("caught", F.lit(1))
    return (
        jbuck.join(cand, ["id_a", "id_b"], "left")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce("caught", F.lit(0))).cast("bigint").alias("n_caught"),
        )
        .select(
            "bucket",
            F.round(F.col("bucket") / 10.0, 1).alias("jaccard_lo"),
            "n_pairs",
            "n_caught",
            F.round(F.col("n_caught").cast("double") / F.col("n_pairs"), 6).alias(
                "capture_rate"
            ),
        )
        .orderBy("bucket")
    )

# --- round 6 addition ---------------------------------------------------

# Equal-budget (b x r = 64 minhashes) LSH configurations to compare.
# r and b are powers of two so s^r and (1-s^r)^b are explicit squaring
# chains in BOTH engines (x_lsh_curve's portability rule: never POWER).
BAND_TUNE_CONFIGS: tuple[tuple[int, int], ...] = ((32, 2), (16, 4), (8, 8), (4, 16))
BAND_TUNE_THRESHOLD_PCT = 50  # design point: dup iff Jaccard >= 0.5


def _sq_chain_sql(expr: str, power: int) -> str:
    """expr**power (power = 2^k) as an explicit squaring chain."""
    out = expr
    while power > 1:
        out = f"({out} * {out})"
        power //= 2
    return out


def _band_tune_oracle() -> str:
    arms = []
    for b, r in BAND_TUNE_CONFIGS:
        # p_candidate = 1 - (1 - s^r)^b, both powers as squaring chains
        one_minus = f"(1.0 - {_sq_chain_sql('s', r)})"
        p = f"(1.0 - {_sq_chain_sql(one_minus, b)})"
        arms.append(
            f"""SELECT {b} AS bands, {r} AS rows_per_band, s_pct,
                   round({p}, 6) AS p_cand
            FROM grid"""
        )
    arms_sql = "\n            UNION ALL\n            ".join(arms)
    return f"""
        WITH grid AS (
            SELECT CAST((n_nationkey + 1) * 5 AS INTEGER) AS s_pct,
                   CAST((n_nationkey + 1) * 5 AS DOUBLE) / 100.0 AS s
            FROM nation WHERE n_nationkey < 19
        ),
        curves AS (
            {arms_sql}
        ),
        costs AS (
            SELECT bands, rows_per_band,
                   CAST(SUM(CASE WHEN s_pct < {BAND_TUNE_THRESHOLD_PCT}
                                 THEN CAST(p_cand AS DECIMAL(18,6))
                                 ELSE CAST(0 AS DECIMAL(18,6)) END)
                        AS DECIMAL(18,6)) AS fp_mass,
                   CAST(SUM(CASE WHEN s_pct >= {BAND_TUNE_THRESHOLD_PCT}
                                 THEN CAST(round(1.0 - p_cand, 6) AS DECIMAL(18,6))
                                 ELSE CAST(0 AS DECIMAL(18,6)) END)
                        AS DECIMAL(18,6)) AS fn_mass
            FROM curves GROUP BY bands, rows_per_band
        ),
        best AS (SELECT MIN(fp_mass + fn_mass) AS best_cost FROM costs)
        SELECT bands, rows_per_band,
               CAST(fp_mass AS DOUBLE) AS fp_mass,
               CAST(fn_mass AS DOUBLE) AS fn_mass,
               CAST(fp_mass + fn_mass AS DOUBLE) AS total_cost,
               (fp_mass + fn_mass = best_cost) AS is_best
        FROM costs, best
        ORDER BY bands DESC
    """


@register("x_minhash_band_tuning", tags=("EXT", "F4", "X2"), oracle=_band_tune_oracle())
def x_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH (bands x rows) tuning table: x_lsh_curve generalized from the
    production config's single S-curve to the full equal-budget design
    sweep (64 minhashes split 32x2 / 16x4 / 8x8 / 4x16), scored by
    false-positive mass below the Jaccard-0.5 design point plus
    false-negative mass above it (the Riemann sum of the S-curve against
    the step-function ideal), with the argmin flagged — the closed-form
    pre-run answer to "which banding should this corpus use?".

    Determinism: every power is an explicit squaring chain (never
    POWER); each grid term is rounded to 6 then summed as
    DECIMAL(18,6) — exact and order-independent — so even the argmin
    comparison is exact-decimal equality on both engines.

    100 TB relevance: retuning (b, r) costs 4 x 19 closed-form rows —
    zero data touched; the chosen config then drives the banded
    self-join whose candidate volume the S-curve prices (PLANS.md
    winnow/basket tables)."""
    nation = _t(spark, sf_dir, "nation").select("n_nationkey")
    grid = nation.filter(F.col("n_nationkey") < 19).select(
        ((F.col("n_nationkey") + 1) * 5).cast("int").alias("s_pct"),
        (((F.col("n_nationkey") + 1) * 5).cast("double") / 100.0).alias("s"),
    )

    def chain(col: F.Column, power: int) -> F.Column:
        out = col
        while power > 1:
            out = out * out
            power //= 2
        return out

    curves = None
    for b, r in BAND_TUNE_CONFIGS:
        p = 1.0 - chain(1.0 - chain(F.col("s"), r), b)
        arm = grid.select(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            "s_pct",
            F.round(p, 6).alias("p_cand"),
        )
        curves = arm if curves is None else curves.unionAll(arm)
    zero = F.lit(0).cast("decimal(18,6)")
    costs = curves.groupBy("bands", "rows_per_band").agg(
        F.sum(
            F.when(
                F.col("s_pct") < BAND_TUNE_THRESHOLD_PCT,
                F.col("p_cand").cast("decimal(18,6)"),
            ).otherwise(zero)
        )
        .cast("decimal(18,6)")
        .alias("fp_mass"),
        F.sum(
            F.when(
                F.col("s_pct") >= BAND_TUNE_THRESHOLD_PCT,
                F.round(1.0 - F.col("p_cand"), 6).cast("decimal(18,6)"),
            ).otherwise(zero)
        )
        .cast("decimal(18,6)")
        .alias("fn_mass"),
    )
    best = costs.agg(F.min(F.col("fp_mass") + F.col("fn_mass")).alias("best_cost"))
    return (
        costs.crossJoin(F.broadcast(best))
        .select(
            "bands",
            "rows_per_band",
            F.col("fp_mass").cast("double").alias("fp_mass"),
            F.col("fn_mass").cast("double").alias("fn_mass"),
            (F.col("fp_mass") + F.col("fn_mass")).cast("double").alias("total_cost"),
            (F.col("fp_mass") + F.col("fn_mass") == F.col("best_cost")).alias("is_best"),
        )
        .orderBy(F.desc("bands"))
    )

