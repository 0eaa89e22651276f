"""ANN index-quality harnesses (SURVEY.md §2.14): recall@k of every
approximate index family against the exact brute-force truth, plus the
recall/nprobe trade-off curve — the continuous-monitoring jobs a
production vector store runs to catch index drift before users do.

Split from operators/knn.py in round 8 (consolidation): the index
implementations live there; this module only COMPOSES the registered
pipelines (x_knn exact truth vs x_knn_lsh_det / x_knn_pq /
x_knn_ivf_trained) with the shared _recall_vs_exact join, so a new
index variant gets its recall harness in ~10 lines.

100 TB design note shared by every harness here: evaluation cost is
dominated by the brute-force arm over the PROBE SAMPLE only (broadcast
probes x corpus scan, the sanctioned J9 baseline); the index arms reuse
their own bucket/cell joins; the recall join itself is top-k-sized. At
full corpus scale these run on a deterministic hash-sampled probe slice.

Reference parity: no vector surface in the reference (verified absence,
SURVEY.md §2 — music_db.sql defines only scalar columns); X3 exists for
the LLM-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity
from ..registry import register
from .knn import (
    EMB_DIM,
    KMEANS_ITERS,
    N_PROBES,
    TOP_K,
    TRAINED_PROBE_CELLS,
    _cos_sql,
    _det_planes,
    _ivf_trained_oracle,
    _kmeans_ctes,
    _kmeans_fit,
    _pq_oracle,
    _sq_dist,
    _sqdist_sql,
    x_knn,
    x_knn_ivf_trained,
    x_knn_lsh_det,
    x_knn_pq,
)
from ..session import checkpoint

def _ann_recall_oracle() -> str:
    """x_ann_recall oracle: the x_knn (exact) and x_knn_lsh_det (LSH)
    pipelines composed, then per-probe recall@k as the fraction of the
    exact top-k the LSH top-k recovered."""
    planes_rows = ",\n                ".join(
        f"({t}, {b}, [{', '.join(str(int(v)) for v in plane)}])"
        for t, table in enumerate(_det_planes())
        for b, plane in enumerate(table)
    )
    cos = (
        f"round(list_aggregate(list_transform(range(1, {EMB_DIM} + 1),"
        f" i -> p.emb[i] * n.emb[i]), 'sum')"
        f" / (sqrt(list_aggregate(list_transform(p.emb, x -> x * x), 'sum'))"
        f" * sqrt(list_aggregate(list_transform(n.emb, x -> x * x), 'sum'))), 6)"
    )
    return f"""
        WITH dbl AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ),
        probes AS (
            SELECT vec_id AS probe_id FROM embeddings ORDER BY vec_id LIMIT {N_PROBES}
        ),
        bscored AS (
            SELECT pr.probe_id, n.vec_id AS neighbor_id, {cos} AS cosine
            FROM probes pr JOIN dbl p ON p.vec_id = pr.probe_id
            CROSS JOIN dbl n WHERE n.vec_id <> pr.probe_id
        ),
        btop AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT probe_id, neighbor_id,
                       row_number() OVER (PARTITION BY probe_id
                                          ORDER BY cosine DESC, neighbor_id) AS rnk
                FROM bscored) t WHERE rnk <= {TOP_K}
        ),
        planes AS (
            SELECT * FROM (VALUES
                {planes_rows}
            ) AS v(t, b, plane)
        ),
        proj AS (
            SELECT d.vec_id, p.t, p.b,
                   list_aggregate(list_transform(range(1, {EMB_DIM} + 1),
                                                 i -> d.emb[i] * p.plane[i]), 'sum') AS pr
            FROM dbl d CROSS JOIN planes p
        ),
        buckets AS (
            SELECT vec_id, t AS table_id,
                   CAST(SUM(CASE WHEN pr >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id, t
        ),
        cand AS (
            SELECT DISTINCT pr.probe_id, bc.vec_id AS neighbor_id
            FROM probes pr
            JOIN buckets bp ON bp.vec_id = pr.probe_id
            JOIN buckets bc ON bc.table_id = bp.table_id AND bc.bucket = bp.bucket
                           AND bc.vec_id <> pr.probe_id
        ),
        lscored AS (
            SELECT c.probe_id, c.neighbor_id, {cos} AS cosine
            FROM cand c
            JOIN dbl p ON p.vec_id = c.probe_id
            JOIN dbl n ON n.vec_id = c.neighbor_id
        ),
        ltop AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT probe_id, neighbor_id,
                       row_number() OVER (PARTITION BY probe_id
                                          ORDER BY cosine DESC, neighbor_id) AS rnk
                FROM lscored) t WHERE rnk <= {TOP_K}
        ),
        hits AS (
            SELECT b.probe_id, CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits
            FROM btop b LEFT JOIN ltop l
                 ON l.probe_id = b.probe_id AND l.neighbor_id = b.neighbor_id
            GROUP BY b.probe_id
        )
        SELECT probe_id, n_hits,
               CAST(n_hits AS DOUBLE) / {TOP_K}.0 AS recall_at_k
        FROM hits ORDER BY probe_id
    """


@register("x_ann_recall", tags=("EXT", "X3", "A1", "J4"), oracle=_ann_recall_oracle())
def x_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality evaluation IN the engine: per-probe recall@k of
    the deterministic LSH index (x_knn_lsh_det) against the exact
    brute-force top-k (x_knn) — the continuous-monitoring job a
    production vector store runs to catch index drift/degradation
    before users do. Composes the two registered pipelines verbatim and
    LEFT-joins their top-k sets, so a probe the LSH missed entirely
    still reports recall 0. Fully oracle-checked (both sub-pipelines
    are engine-portable; the recall division is one exact double op).

    100 TB design: evaluation cost is dominated by the brute-force arm
    over the PROBE SAMPLE only (broadcast probes x corpus scan, the
    sanctioned J9 baseline) — the index arm reuses the bucket joins.
    Recall on the driver's isotropic-noise embeddings is low by
    construction (the LSH worst case, ~0.2 at 2x4 bits); the harness
    exists to MEASURE that honestly, and the same query monitors any
    (tables, bits) configuration unchanged."""
    brute = x_knn(spark, sf_dir).select("probe_id", F.col("neighbor_id").alias("b_n"))
    lsh = x_knn_lsh_det(spark, sf_dir).select(
        "probe_id", F.col("neighbor_id").alias("l_n")
    )
    hits = (
        brute.join(
            lsh,
            (brute.probe_id == lsh.probe_id) & (F.col("b_n") == F.col("l_n")),
            "left",
        )
        .select(brute.probe_id, "l_n")
        .groupBy("probe_id")
        .agg(F.count("l_n").cast("bigint").alias("n_hits"))
    )
    return hits.select(
        "probe_id",
        "n_hits",
        (F.col("n_hits").cast("double") / F.lit(float(TOP_K))).alias("recall_at_k"),
    ).orderBy("probe_id")


def _recall_oracle(candidate_sql: str) -> str:
    """Recall@k oracle shared by x_pq_recall / x_ivf_recall: exact-cosine
    top-k CTEs + the given candidate pipeline nested as a derived table
    (DuckDB allows WITH inside a parenthesized subquery), joined into
    per-probe recall@k."""
    cos = (
        f"round(list_aggregate(list_transform(range(1, {EMB_DIM} + 1),"
        f" i -> p.emb[i] * n.emb[i]), 'sum')"
        f" / (sqrt(list_aggregate(list_transform(p.emb, x -> x * x), 'sum'))"
        f" * sqrt(list_aggregate(list_transform(n.emb, x -> x * x), 'sum'))), 6)"
    )
    return f"""
        WITH dblx AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ),
        prx AS (SELECT vec_id AS probe_id FROM embeddings ORDER BY vec_id LIMIT {N_PROBES}),
        bscored AS (
            SELECT pr.probe_id, n.vec_id AS neighbor_id, {cos} AS cosine
            FROM prx pr JOIN dblx p ON p.vec_id = pr.probe_id
            CROSS JOIN dblx n WHERE n.vec_id <> pr.probe_id
        ),
        btop AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT probe_id, neighbor_id,
                       row_number() OVER (PARTITION BY probe_id
                                          ORDER BY cosine DESC, neighbor_id) AS rnk
                FROM bscored) t WHERE rnk <= {TOP_K}
        ),
        candtop AS (SELECT probe_id, neighbor_id FROM ({candidate_sql}) q),
        hit AS (
            SELECT b.probe_id, CAST(COUNT(*) AS BIGINT) AS n_hit
            FROM btop b JOIN candtop p
              ON p.probe_id = b.probe_id AND p.neighbor_id = b.neighbor_id
            GROUP BY b.probe_id
        )
        SELECT pr.probe_id AS probe_id, {TOP_K} AS k,
               COALESCE(n_hit, 0) AS n_hit,
               round(CAST(COALESCE(n_hit, 0) AS DOUBLE) / {TOP_K}, 6) AS recall_at_k
        FROM prx pr LEFT JOIN hit ON hit.probe_id = pr.probe_id
        ORDER BY pr.probe_id
    """


def _recall_vs_exact(exact: DataFrame, cand: DataFrame) -> DataFrame:
    """Per-probe recall@k of a candidate top-k frame against the exact
    top-k frame (both carry (probe_id, neighbor_id)) — the Spark twin
    of _recall_oracle, shared by both recall harnesses so the hit
    join / probes agg / tie handling can never drift between them
    (code-review finding, round 4)."""
    exact = exact.select("probe_id", "neighbor_id")
    cand = cand.select("probe_id", "neighbor_id")
    hit = (
        exact.join(cand, ["probe_id", "neighbor_id"])
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    probes = exact.select("probe_id").distinct()
    return (
        probes.join(hit, "probe_id", "left")
        .select(
            "probe_id",
            F.lit(TOP_K).alias("k"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)).cast("double") / F.lit(TOP_K), 6
            ).alias("recall_at_k"),
        )
        .orderBy("probe_id")
    )


@register("x_pq_recall", tags=("EXT", "X3", "A1", "J4"), oracle=_recall_oracle(_pq_oracle()))
def x_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ (asymmetric-distance) index against exact
    cosine search — x_ann_recall's twin for the quantized path. The
    production question it answers: how much retrieval quality does the
    32x memory compression cost? Run per re-train, alongside the
    codebooks' own distortion stats (x_vec_quantize).

    100 TB design: composes two queries that already scale (brute-force
    top-k is the deliberate harness yardstick, deployed on a sampled
    probe set; the PQ scan is the memory-bound production path) plus a
    top-k-sized join and a probes-sized aggregate — nothing new
    shuffles. Fully oracle-checked: both pipelines are engine-portable,
    so even the recall fractions hash-match."""
    return _recall_vs_exact(x_knn(spark, sf_dir), x_knn_pq(spark, sf_dir))


@register("x_ivf_recall", tags=("EXT", "X3", "A1", "J4"), oracle=_recall_oracle(_ivf_trained_oracle()))
def x_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the trained-IVF probed search against exact cosine —
    the third leg of the index-quality harness (LSH: x_ann_recall; PQ:
    x_pq_recall; IVF here). Measures what probing TRAINED_PROBE_CELLS
    of the trained cells misses vs a full scan — the recall/nprobe
    trade-off curve a vector store tunes per corpus. Fully
    hash-checked; same composition as x_pq_recall via the shared
    _recall_vs_exact / _recall_oracle pair."""
    return _recall_vs_exact(x_knn(spark, sf_dir), x_knn_ivf_trained(spark, sf_dir))


PROBE_CURVE_LEVELS: tuple[int, ...] = (1, 2, 4)  # nprobe sweep


def _probe_curve_oracle() -> str:
    """x_ivf_probe_curve oracle: ONE k-means replay, candidates tagged
    with their cell rank (crnk <= max level), fanned out over the
    nprobe levels, per-level top-k joined against exact-cosine truth."""
    last_cent = f"cent{KMEANS_ITERS - 1}"
    last_assign = f"assign{KMEANS_ITERS}"
    max_lv = max(PROBE_CURVE_LEVELS)
    values = ", ".join(f"({lv})" for lv in PROBE_CURVE_LEVELS)
    cos = (
        f"round(list_aggregate(list_transform(range(1, {EMB_DIM} + 1),"
        f" i -> p.emb[i] * n.emb[i]), 'sum')"
        f" / (sqrt(list_aggregate(list_transform(p.emb, x -> x * x), 'sum'))"
        f" * sqrt(list_aggregate(list_transform(n.emb, x -> x * x), 'sum'))), 6)"
    )
    ctes = _kmeans_ctes() + [
        f"probes AS (SELECT vec_id AS probe_id, emb AS pemb FROM dbl"
        f" ORDER BY vec_id LIMIT {N_PROBES})",
        f"pcells AS (SELECT probe_id, pemb, cluster_id, crnk FROM ("
        f" SELECT p.probe_id, p.pemb, c.cluster_id,"
        f" row_number() OVER (PARTITION BY p.probe_id"
        f" ORDER BY {_sqdist_sql('p.pemb', 'c.cent')} ASC, c.cluster_id ASC) AS crnk"
        f" FROM probes p CROSS JOIN {last_cent} c) t WHERE crnk <= {max_lv})",
        f"cand AS (SELECT pc.probe_id, pc.crnk, a.vec_id AS neighbor_id,"
        f" round({_cos_sql('pc.pemb', 'a.emb')}, 6) AS cosine"
        f" FROM pcells pc JOIN {last_assign} a ON a.cluster_id = pc.cluster_id"
        f" WHERE a.vec_id <> pc.probe_id)",
        f"lev AS (SELECT l.nprobe, c.probe_id, c.neighbor_id, c.cosine"
        f" FROM cand c JOIN (VALUES {values}) l(nprobe) ON c.crnk <= l.nprobe)",
        f"ctop AS (SELECT nprobe, probe_id, neighbor_id FROM ("
        f" SELECT nprobe, probe_id, neighbor_id,"
        f" row_number() OVER (PARTITION BY nprobe, probe_id"
        f" ORDER BY cosine DESC, neighbor_id ASC) AS rnk"
        f" FROM lev) t WHERE rnk <= {TOP_K})",
        f"bscored AS (SELECT pr.probe_id, n.vec_id AS neighbor_id, {cos} AS cosine"
        f" FROM probes pr JOIN dbl p ON p.vec_id = pr.probe_id"
        f" CROSS JOIN dbl n WHERE n.vec_id <> pr.probe_id)",
        f"btop AS (SELECT probe_id, neighbor_id FROM ("
        f" SELECT probe_id, neighbor_id,"
        f" row_number() OVER (PARTITION BY probe_id"
        f" ORDER BY cosine DESC, neighbor_id) AS rnk"
        f" FROM bscored) t WHERE rnk <= {TOP_K})",
        "hits AS (SELECT c.nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits"
        " FROM ctop c JOIN btop b"
        " ON b.probe_id = c.probe_id AND b.neighbor_id = c.neighbor_id"
        " GROUP BY c.nprobe)",
        "candn AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates"
        " FROM lev GROUP BY nprobe)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT c.nprobe,
               c.n_candidates,
               COALESCE(h.n_hits, 0) AS n_hits,
               round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
                     / {N_PROBES * TOP_K}, 6) AS recall_at_k
        FROM candn c LEFT JOIN hits h ON h.nprobe = c.nprobe
        ORDER BY c.nprobe
    """
    )


@register("x_ivf_probe_curve", tags=("EXT", "X3", "A1", "J4"), oracle=_probe_curve_oracle())
def x_ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/cost TUNING CURVE: recall@k and candidates-scanned
    at nprobe in {PROBE_CURVE_LEVELS}, from ONE k-means training and
    ONE candidate pass — the measured version of the trade-off
    x_ivf_recall samples at a single operating point, and the number a
    vector store actually tunes (pick the smallest nprobe on the
    curve's knee). Cites FAISS's nprobe sweep methodology (public
    johnson et al. 2017) re-expressed as a single declarative plan.

    Determinism: candidates carry their cell rank crnk; level
    membership (crnk <= nprobe) and all counts are exact; per-level
    top-k orders by the round-6 cosine with neighbor-id tie-break —
    the x_knn_ivf_trained contract per level.

    100 TB design: training and the candidate join run ONCE at the
    largest nprobe; the level fanout duplicates only candidate rows
    (<= max_nprobe/|cells| of the corpus per probe) with the level key
    prepended to the ranking window's partition key — no re-scan per
    operating point. The brute-force arm is the sanctioned sampled-
    probe yardstick shared by every recall harness.

    Reference parity: no vector surface in the reference; SURVEY.md §2
    X3 index-quality family."""
    cents, assign = _kmeans_fit(spark, sf_dir)
    max_lv = max(PROBE_CURVE_LEVELS)
    probes = (
        assign.orderBy("vec_id")
        .limit(N_PROBES)
        .select(F.col("vec_id").alias("probe_id"), F.col("emb").alias("pemb"))
    )
    pdist = _sq_dist(F.col("pemb"), F.col("cent"))
    wp = W.partitionBy("probe_id").orderBy(F.asc("pdist"), F.asc("cluster_id"))
    pcells = (
        F.broadcast(probes)
        .crossJoin(F.broadcast(cents))
        .select("probe_id", "pemb", "cluster_id", pdist.alias("pdist"))
        .withColumn("crnk", F.row_number().over(wp))
        .filter(F.col("crnk") <= max_lv)
        .select("probe_id", "pemb", "cluster_id", "crnk")
    )
    cos = F.round(cosine_similarity(F.col("pemb"), F.col("emb")), 6)
    cand = (
        F.broadcast(pcells)
        .join(assign, "cluster_id")
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select(
            "probe_id", "crnk", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
        )
    )
    lev = checkpoint(
        cand.select(
            F.explode(F.array(*[F.lit(lv) for lv in PROBE_CURVE_LEVELS])).alias(
                "nprobe"
            ),
            "probe_id",
            "crnk",
            "neighbor_id",
            "cosine",
        ).filter(F.col("crnk") <= F.col("nprobe")),
        eager=True,
    )
    wl = W.partitionBy("nprobe", "probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    ctop = (
        lev.withColumn("rnk", F.row_number().over(wl))
        .filter(F.col("rnk") <= TOP_K)
        .select("nprobe", "probe_id", "neighbor_id")
    )
    btop = x_knn(spark, sf_dir).select("probe_id", "neighbor_id")
    hits = (
        ctop.join(btop, ["probe_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    candn = lev.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    return (
        candn.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            "n_candidates",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.lit(float(N_PROBES * TOP_K)),
                6,
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe")
    )

