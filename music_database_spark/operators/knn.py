"""Similarity search over the embeddings table (SURVEY.md §2.10 X3).

Two paths, per the survey's two-stage design:

* ``x_knn`` — brute-force top-k: probe set × corpus crossJoin (J9) with
  cosine similarity computed by JVM higher-order functions, then a
  ranking window per probe. Exact; the baseline. The crossJoin is
  bounded because the probe side is a fixed small set (broadcast), so
  the work is O(|probes| * |corpus|) scanned once — this is exactly how
  a brute-force ANN baseline shards at 100 TB: broadcast the probes,
  scan the corpus partition-parallel, per-partition top-k, merge.
* ``x_knn_lsh`` — scale path: multi-table random-hyperplane LSH
  (N_LSH_TABLES OR-ed 6-bit tables, buckets computed by one numpy
  matmul behind a pandas_udf), equi-join probes to corpus on
  (table_id, bucket), exact-cosine rerank over the deduplicated
  candidates. Recall < 1 by design (rows-only check; floor pinned in
  tests against the brute-force baseline).

Cosine determinism for the DuckDB oracle: both engines fold the arrays
sequentially in index order in double precision (Spark ``aggregate``,
DuckDB ``list_aggregate 'sum'``), so the doubles match bitwise and the
6-dp rounding + (sim DESC, id ASC) rank agree exactly.

Reference parity: the reference has no vector surface at all (verified
absence, SURVEY.md §2 — music_db.sql defines only scalar columns); X3
exists for the LLM-pipeline north star.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.vector import as_double_array, cosine_similarity
from ..plans.relational import _t
from ..sources.loader import scan_wide, wide_emb


# One shared definition (sources/loader.wide_emb); local alias keeps
# call sites short.
_emb = wide_emb
from ..registry import register
from .pipeline import hash_split
from ..session import cached

N_PROBES = 10  # fixed probe set: the N lowest vec_ids
TOP_K = 3
N_LSH_TABLES = 6  # kNN: independent OR-ed tables (recall knob)
N_LSH_BITS = 6  # kNN: bits per table -> 64 buckets each
LSH_SEED = 42
EMB_DIM = 64
N_CELLS = 16  # IVF coarse-quantizer cells
N_PROBE_CELLS = 4  # IVF cells searched per probe


def _probes(emb: DataFrame) -> DataFrame:
    """Deterministic probe set: the N_PROBES lowest vec_ids."""
    return (
        emb.orderBy("vec_id")
        .limit(N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_emb"),
        )
    )


@register(
    "x_knn",
    tags=("EXT", "X3", "J9", "F4", "F5", "O3"),
    oracle=f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, embedding AS probe_emb
            FROM embeddings ORDER BY vec_id LIMIT {N_PROBES}
        ),
        dbl AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ),
        pdbl AS (
            SELECT probe_id, list_transform(probe_emb, x -> CAST(x AS DOUBLE)) AS pemb
            FROM probes
        ),
        scored AS (
            SELECT p.probe_id, d.vec_id AS neighbor_id,
                   round(
                     list_aggregate(list_transform(range(1, {EMB_DIM} + 1),
                                                   i -> p.pemb[i] * d.emb[i]), 'sum')
                     / (sqrt(list_aggregate(list_transform(p.pemb, x -> x * x), 'sum'))
                        * sqrt(list_aggregate(list_transform(d.emb, x -> x * x), 'sum'))),
                     6) AS cosine
            FROM pdbl p CROSS JOIN dbl d
            WHERE p.probe_id <> d.vec_id
        )
        SELECT probe_id, neighbor_id, cosine, rnk FROM (
            SELECT probe_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) t WHERE rnk <= {TOP_K}
        ORDER BY probe_id, rnk
    """,
)
def x_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: 10 probe vectors against the whole corpus.
    Probe side is broadcast, so the crossJoin is a single corpus scan with
    per-partition top-k (the window) — the distributed brute-force shape."""
    emb = _emb(spark, sf_dir)
    probes = _probes(emb)
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("emb"))
    cos = F.round(
        cosine_similarity(as_double_array("probe_emb"), as_double_array("emb")), 6
    )
    scored = (
        F.broadcast(probes)
        .crossJoin(corpus)
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", cos.alias("cosine"))
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "rnk")
        .orderBy("probe_id", "rnk")
    )


def _projection_planes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed -> same planes on every
    run/executor). Gaussian entries give uniformly distributed normals."""
    rng = np.random.RandomState(seed)
    return [[float(v) for v in rng.standard_normal(dim)] for _ in range(n_planes)]


def lsh_bucket(emb_col, planes: list[list[float]]):
    """K-bit random-hyperplane signature as a bigint bucket key, computed
    entirely with JVM higher-order functions: bit b = (emb . plane_b) >= 0."""
    dbl = as_double_array(emb_col)
    bucket = F.lit(0).cast("bigint")
    for b, plane in enumerate(planes):
        plane_arr = F.array(*[F.lit(v) for v in plane])
        proj = F.aggregate(
            F.zip_with(dbl, plane_arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0))
    return bucket


@register("x_knn_lsh", tags=("EXT", "X3"), oracle=None)
def x_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH approximate kNN (the 100 TB path): N_LSH_TABLES
    independent 6-bit random-hyperplane tables; a (probe, candidate) pair
    qualifies if it collides in ANY table (union of per-table equi-joins
    — hash joins, no crossJoin), then exact cosine rerank over the
    deduplicated candidate set.

    One 12-bit table has near-zero recall on isotropic vectors (true
    neighbors at cosine ~0.4 rarely agree on all 12 hyperplane signs —
    measured 0.0 against brute force); OR-ing several shorter tables is
    the standard recall fix and keeps each join a bucket hash join.
    Candidates/table ~ corpus/2^bits, so total work is
    N_LSH_TABLES * corpus * probes / 64 — still ~linear, tunable by
    (tables, bits). On the driver's isotropic-noise embeddings (the
    worst case for LSH: top neighbors sit at cosine ~0.4, per-bit
    collision prob ~0.63) theory predicts recall 1-(1-0.63^6)^6 ~ 0.31;
    measured 0.30 at sf0.01 — the knob behaves exactly as analyzed, and
    clustered real-world embeddings sit far above this floor. Recall vs
    x_knn is pinned in tests. Rows-only: approximate by construction."""
    emb = _t(spark, sf_dir, "embeddings")

    # All table buckets in one vectorized pass: a (dim, tables*bits)
    # plane matrix lives in the UDF closure and each Arrow batch is one
    # numpy matmul + sign-fold. The pure-Catalyst alternative embeds
    # tables*bits*dim literal doubles in the plan and Janino-compiles a
    # multi-MB function per run — plan compilation dominated execution
    # (measured 5.4 s vs 2.0 s at sf0.1). Dense linear algebra is the
    # sanctioned Arrow-UDF use case; buckets are deterministic (fixed
    # planes, float64 both sides of the boundary).
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.vstack(
        [
            _projection_planes(N_LSH_BITS, EMB_DIM, LSH_SEED + 101 * t)
            for t in range(N_LSH_TABLES)
        ]
    ).T  # (EMB_DIM, N_LSH_TABLES * N_LSH_BITS)
    weights = (1 << np.arange(N_LSH_BITS, dtype=np.int64))

    @pandas_udf("array<long>")
    def all_buckets(embs):  # pd.Series -> pd.Series (hints omitted:
        # string annotations from __future__ can't resolve function-local pd)
        mat = np.vstack(embs.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (mat @ planes) >= 0  # (n, tables*bits)
        per_table = bits.reshape(len(mat), N_LSH_TABLES, N_LSH_BITS)
        buckets = (per_table * weights).sum(axis=2).astype(np.int64)
        return pd.Series(list(buckets))

    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb"),
        F.posexplode(all_buckets(F.col("embedding"))).alias("table_id", "bucket"),
    )
    probes = _probes(emb).select(
        "probe_id",
        "probe_emb",
        F.posexplode(all_buckets(F.col("probe_emb"))).alias("table_id", "bucket"),
    )
    cand = (
        F.broadcast(probes)
        .join(corpus, ["table_id", "bucket"])
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", "probe_emb", "emb")
    )
    cos = F.round(
        cosine_similarity(as_double_array("probe_emb"), as_double_array("emb")), 6
    )
    scored = (
        cand.dropDuplicates(["probe_id", "neighbor_id"])
        .select("probe_id", "neighbor_id", cos.alias("cosine"))
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "rnk")
        .orderBy("probe_id", "rnk")
    )


def _cos_sql(a: str, b: str) -> str:
    """Unrounded cosine between two double-list columns, same op order as
    functions/vector.cosine_similarity (dot / (norm*norm), sequential
    folds) so the doubles match Spark's bitwise."""
    return (
        f"list_aggregate(list_transform(range(1, {EMB_DIM} + 1), i -> {a}[i] * {b}[i]), 'sum')"
        f" / (sqrt(list_aggregate(list_transform({a}, x -> x * x), 'sum'))"
        f" * sqrt(list_aggregate(list_transform({b}, x -> x * x), 'sum')))"
    )


_IVF_ORACLE = f"""
        WITH dbl AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ),
        cents AS (
            SELECT vec_id AS cent_id, emb AS cent FROM dbl ORDER BY vec_id LIMIT {N_CELLS}
        ),
        assign AS (
            SELECT vec_id AS neighbor_id, cell, emb FROM (
                SELECT d.vec_id, c.cent_id AS cell, d.emb,
                       row_number() OVER (
                           PARTITION BY d.vec_id
                           ORDER BY {_cos_sql('d.emb', 'c.cent')} DESC, c.cent_id DESC
                       ) AS rn
                FROM dbl d CROSS JOIN cents c
            ) t WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS probe_id, emb AS pemb FROM dbl ORDER BY vec_id LIMIT {N_PROBES}
        ),
        probe_cells AS (
            SELECT probe_id, pemb, cell FROM (
                SELECT p.probe_id, p.pemb, c.cent_id AS cell,
                       row_number() OVER (
                           PARTITION BY p.probe_id
                           ORDER BY {_cos_sql('p.pemb', 'c.cent')} DESC, c.cent_id ASC
                       ) AS crnk
                FROM probes p CROSS JOIN cents c
            ) t WHERE crnk <= {N_PROBE_CELLS}
        ),
        scored AS (
            SELECT pc.probe_id, a.neighbor_id,
                   round({_cos_sql('pc.pemb', 'a.emb')}, 6) AS cosine
            FROM probe_cells pc
            JOIN assign a ON a.cell = pc.cell
            WHERE a.neighbor_id <> pc.probe_id
        )
        SELECT probe_id, neighbor_id, cosine, rnk FROM (
            SELECT probe_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) t WHERE rnk <= {TOP_K}
        ORDER BY probe_id, rnk
    """


@register("x_knn_ivf", tags=("EXT", "X3"), oracle=_IVF_ORACLE)
def x_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate kNN — the other standard ANN scale path:

    1. coarse quantizer: N_CELLS deterministic seed centroids (lowest
       vec_ids stand in for trained k-means centroids);
    2. assignment: every corpus vector folds the literal centroid array
       map-side (array_max over (cos, id) structs) — one scan, ZERO
       shuffle; the embeddings never cross an exchange;
    3. search: each probe visits only its N_PROBE_CELLS nearest cells,
       exact cosine rerank inside those cells.

    At 100 TB the corpus would be written bucketed/partitioned BY cell so
    a probe's search is a partition-pruned scan of nprobe/ncells of the
    data. Recall < 1 by construction, but every step is deterministic
    (seed centroids, bit-identical sequential-fold cosines, explicit tie
    breaks: assignment ties to the LARGEST cent_id via struct-max, probe
    cells to the smallest), so the DuckDB oracle mirrors the same
    approximate algorithm and the query is fully value-hash-checked."""
    emb = _emb(spark, sf_dir)
    centroids = (
        emb.orderBy("vec_id")
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb"))
    )
    # The whole quantizer packed into ONE row holding an array of
    # (id, cent) structs — crossJoin(broadcast) against a 1-row side is a
    # map-side nested-loop that merely appends the array column to every
    # corpus row; the embeddings never cross an exchange.
    cent_arr = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("cent_id").alias("id"),
                    as_double_array("cent_emb").alias("cent"),
                )
            )
        ).alias("cents")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("emb"))
    # argmax-cosine assignment, MAP-SIDE: fold the packed centroid array
    # per row (array_max over (cos, cent_id) structs — ties to the larger
    # cent_id, same as the former groupBy(max) formulation). The old
    # crossJoin(broadcast)->groupBy(neighbor_id) put every embedding array
    # through an exchange just to compute a per-row argmax (round-3
    # verdict finding #1); this shape has zero wide dependencies.
    best = F.array_max(
        F.transform(
            F.col("cents"),
            lambda ct: F.struct(
                cosine_similarity(as_double_array("emb"), ct["cent"]).alias("c"),
                ct["id"].alias("id"),
            ),
        )
    )
    assign = corpus.crossJoin(F.broadcast(cent_arr)).select(
        "neighbor_id", "emb", best.getField("id").alias("cell")
    )
    probes = _probes(emb)
    probe_cent_cos = cosine_similarity(as_double_array("probe_emb"), as_double_array("cent_emb"))
    wp = W.partitionBy("probe_id").orderBy(F.desc("cent_cos"), F.asc("cent_id"))
    probe_cells = (
        F.broadcast(probes)
        .crossJoin(F.broadcast(centroids))
        .select("probe_id", "probe_emb", "cent_id", probe_cent_cos.alias("cent_cos"))
        .withColumn("crnk", F.row_number().over(wp))
        .filter(F.col("crnk") <= N_PROBE_CELLS)
        .select("probe_id", "probe_emb", F.col("cent_id").alias("cell"))
    )
    cos = F.round(cosine_similarity(as_double_array("probe_emb"), as_double_array("emb")), 6)
    cand = (
        F.broadcast(probe_cells)
        .join(assign, "cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", cos.alias("cosine"))
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "rnk")
        .orderBy("probe_id", "rnk")
    )


DET_TABLES = 2  # deterministic-LSH variant: OR-ed tables
DET_BITS = 4  # bits per table -> 16 buckets each


def _det_planes() -> list[list[list[float]]]:
    """±1-entry hyperplanes derived from md5 parity of "t:b:d" — computed
    once in Python and embedded as identical literals in BOTH the Spark
    plan and the DuckDB oracle, so the two engines share the exact plane
    matrix without either having to reproduce an RNG."""
    import hashlib

    return [
        [
            [
                1.0
                if int(hashlib.md5(f"{t}:{b}:{d}".encode()).hexdigest(), 16) % 2 == 0
                else -1.0
                for d in range(EMB_DIM)
            ]
            for b in range(DET_BITS)
        ]
        for t in range(DET_TABLES)
    ]


def _det_lsh_oracle() -> str:
    planes_rows = ",\n                ".join(
        f"({t}, {b}, [{', '.join(str(int(v)) for v in plane)}])"
        for t, table in enumerate(_det_planes())
        for b, plane in enumerate(table)
    )
    return f"""
        WITH probes AS (
            SELECT vec_id AS probe_id FROM embeddings ORDER BY vec_id LIMIT {N_PROBES}
        ),
        dbl AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
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
        scored AS (
            SELECT c.probe_id, c.neighbor_id,
                   round(
                     list_aggregate(list_transform(range(1, {EMB_DIM} + 1),
                                                   i -> p.emb[i] * n.emb[i]), 'sum')
                     / (sqrt(list_aggregate(list_transform(p.emb, x -> x * x), 'sum'))
                        * sqrt(list_aggregate(list_transform(n.emb, x -> x * x), 'sum'))),
                     6) AS cosine
            FROM cand c
            JOIN dbl p ON p.vec_id = c.probe_id
            JOIN dbl n ON n.vec_id = c.neighbor_id
        )
        SELECT probe_id, neighbor_id, cosine, rnk FROM (
            SELECT probe_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) t WHERE rnk <= {TOP_K}
        ORDER BY probe_id, rnk
    """


@register("x_knn_lsh_det", tags=("EXT", "X3"), oracle=_det_lsh_oracle())
def x_knn_lsh_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable LSH approximate kNN — the fully value-hash-checked
    twin of x_knn_lsh. Two OR-ed 4-bit hyperplane tables whose ±1 plane
    entries are md5-parity constants shared verbatim with the DuckDB
    oracle; projections are the same sequential double fold both engines
    use for cosine, so signs, buckets, candidate sets and the exact
    rerank all match bitwise. Same scale shape as x_knn_lsh (bucket
    equi-joins, candidates ~ corpus/2^bits per table, exact rerank only
    on candidates); the numpy variant stays the production bucket
    computation for wide plane matrices (see its plan-size note)."""
    emb = _t(spark, sf_dir, "embeddings")
    planes = _det_planes()
    dbl = as_double_array("embedding")

    def bucket(t: int):
        e = F.lit(0).cast("bigint")
        for b in range(DET_BITS):
            plane_arr = F.array(*[F.lit(v) for v in planes[t][b]])
            proj = F.aggregate(
                F.zip_with(dbl, plane_arr, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            e = e + F.when(proj >= 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0))
        return e

    buckets = emb.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("table_id"), bucket(t).alias("bucket"))
                    for t in range(DET_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "embedding", "tb.table_id", "tb.bucket")
    probe_ids = _probes(emb).select("probe_id")
    probe_buckets = buckets.join(
        F.broadcast(probe_ids), buckets.vec_id == probe_ids.probe_id
    ).select(
        "probe_id", F.col("embedding").alias("probe_emb"), "table_id", "bucket"
    )
    cand = (
        F.broadcast(probe_buckets)
        .join(buckets, ["table_id", "bucket"])
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "probe_emb", "embedding")
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    cos = F.round(
        cosine_similarity(as_double_array("probe_emb"), as_double_array("embedding")), 6
    )
    scored = cand.select("probe_id", "neighbor_id", cos.alias("cosine"))
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "rnk")
        .orderBy("probe_id", "rnk")
    )


K_CLUSTERS = 8  # k-means: clusters
KMEANS_ITERS = 3  # k-means: fixed Lloyd iterations (deterministic)


def _sq_dist(a, b):
    """Squared L2 between two double-array columns — sequential left fold
    in index order (same determinism contract as functions/vector.dot)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sqdist_sql(a: str, b: str) -> str:
    """Unrounded squared-L2 between two double-list columns, same op order
    as _sq_dist (sequential index-order fold) so the doubles match Spark's
    bitwise."""
    return (
        f"list_aggregate(list_transform(range(1, {EMB_DIM} + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    )


def packed_argmin_assign(rows: DataFrame, cents: DataFrame, emb_col: str = "emb") -> DataFrame:
    """rows + (cluster_id, dist): map-side nearest-centroid assignment —
    THE shared argmin core of Lloyd's iterations, IVF routing and index
    ingest. The K centroids pack into ONE row holding a sorted array of
    (cluster_id, cent) structs, the crossJoin(broadcast) against that
    1-row side merely appends the array to every vector row, and
    array_min over (dist, cid) structs is the argmin — the vectors never
    cross an exchange for assignment. (dist, cid) lexicographic order is
    the deterministic tie-break; distances are _sq_dist sequential
    index-order folds, bit-identical across engines."""
    packed = cents.agg(
        F.array_sort(
            F.collect_list(F.struct("cluster_id", F.col("cent").alias("cent")))
        ).alias("cents")
    )
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                _sq_dist(F.col(emb_col), c["cent"]).alias("dist"),
                c["cluster_id"].alias("cid"),
            ),
        )
    )
    return rows.crossJoin(F.broadcast(packed)).select(
        *rows.columns,
        best.getField("cid").alias("cluster_id"),
        best.getField("dist").alias("dist"),
    )


def decimal_mean_centroids(rows: DataFrame, key: str, emb_col: str = "emb") -> DataFrame:
    """(key, cent): per-key mean vector with DECIMAL(27,12)-exact
    component sums — the shared centroid-update core of Lloyd's and the
    split-centroid drift monitor. posexplode partials put O(K x dim)
    rows through one (key, pos) exchange regardless of corpus size; the
    array is re-assembled in index order so downstream folds stay
    bit-identical."""
    return (
        rows.select(key, F.posexplode(emb_col).alias("pos", "v"))
        .groupBy(key, "pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(27,12)")).cast("double") / F.count(F.lit(1))
            ).alias("mean")
        )
        .groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
        .select(key, F.transform("pm", lambda s: s["mean"]).alias("cent"))
    )


def _kmeans_ctes(k: int = K_CLUSTERS) -> list[str]:
    """Unrolled KMEANS_ITERS-iteration Lloyd's as DuckDB CTEs, mirroring
    the Spark plan op-for-op: same seed centroids, same sequential-fold
    doubles, same (dist ASC, cluster_id ASC) assignment tie-break, same
    DECIMAL(27,12)-exact centroid means. Shared by the x_cluster_kmeans
    oracle, the x_knn_ivf_trained oracle (which searches the trained
    quantizer), and the x_semantic_dedup oracle (k=K_SEMANTIC)."""
    d_expr = _sqdist_sql("d.emb", "c.cent")
    ctes = [
        "dbl AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb"
        " FROM embeddings)",
        f"cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id,"
        f" emb AS cent FROM (SELECT vec_id, emb FROM dbl ORDER BY vec_id"
        f" LIMIT {k}) s)",
    ]
    for it in range(1, KMEANS_ITERS + 1):
        ctes.append(
            f"assign{it} AS (SELECT vec_id, emb, cluster_id, dist FROM ("
            f" SELECT d.vec_id, d.emb, c.cluster_id, {d_expr} AS dist,"
            f" row_number() OVER (PARTITION BY d.vec_id"
            f" ORDER BY {d_expr} ASC, c.cluster_id ASC) AS rn"
            f" FROM dbl d CROSS JOIN cent{it - 1} c) t WHERE rn = 1)"
        )
        if it < KMEANS_ITERS:
            ctes.append(
                f"cent{it} AS (SELECT cluster_id, list(mean ORDER BY pos) AS cent FROM ("
                f" SELECT cluster_id, pos,"
                f" CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mean"
                f" FROM (SELECT cluster_id, unnest(emb) AS v,"
                f" unnest(range(1, len(emb) + 1)) AS pos FROM assign{it}) u"
                f" GROUP BY cluster_id, pos) m GROUP BY cluster_id)"
            )
    return ctes


def _kmeans_oracle() -> str:
    return (
        "WITH " + ",\n".join(_kmeans_ctes()) + f"""
        SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               MIN(vec_id) AS rep_vec_id,
               CAST(SUM(CAST(round(dist, 6) AS DECIMAL(24,6))) AS DOUBLE) AS inertia
        FROM assign{KMEANS_ITERS} GROUP BY cluster_id ORDER BY cluster_id
    """
    )


@register("x_cluster_kmeans", tags=("EXT", "X3", "F4", "F5"), oracle=_kmeans_oracle())
def x_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document clustering: K_CLUSTERS-means over the embeddings table,
    KMEANS_ITERS fixed Lloyd iterations, squared-L2, seed centroids = the
    K lowest vec_ids. Returns per-cluster (size, representative = min
    vec_id, inertia = sum of 6-dp-rounded member distances).

    Fully oracle-checked despite being iterative: every float path is
    cross-engine deterministic — distances are sequential index-order
    folds in double (bitwise equal to DuckDB's list_aggregate), the
    assignment argmin breaks ties on cluster_id via struct-min, and
    centroid means accumulate in DECIMAL(27,12) (exact, order-independent)
    before one double division. The oracle unrolls the same three
    iterations as CTEs.

    100 TB design: this is textbook distributed Lloyd's — centroids
    (K x dim doubles) broadcast each iteration, assignment is a map-only
    scan with a partial-aggregable struct-min per vec_id, and the update
    is a (cluster_id, pos)-keyed partial agg shipping one decimal per
    dimension per partition. No driver-side collect anywhere; the
    iteration count is fixed so the lineage is a finite linear DAG.
    Also the trainer for x_knn_ivf's coarse quantizer (knn.py:288), whose
    seed centroids stand in for these trained ones. Reference parity: no
    vector surface in the reference (SURVEY.md §2.10 X3 mandate)."""
    _cents, assign = _kmeans_fit(spark, sf_dir)
    return (
        assign.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("vec_id").alias("rep_vec_id"),
            F.sum(F.round("dist", 6).cast("decimal(24,6)")).cast("double").alias("inertia"),
        )
        .orderBy("cluster_id")
    )


def _kmeans_fit(
    spark: SparkSession, sf_dir: str, k: int = K_CLUSTERS, materialize: bool = True
):
    """Run KMEANS_ITERS Lloyd iterations; returns (cents, assign) where
    cents is the trained quantizer (cluster_id, cent) the final assignment
    used, and assign is (vec_id, emb, cluster_id, dist)."""
    emb = _t(spark, sf_dir, "embeddings")
    emb_dbl = emb.select("vec_id", as_double_array("embedding").alias("emb"))
    return _lloyd(emb_dbl, k, materialize=materialize)


def _lloyd(emb_dbl: DataFrame, k: int, materialize: bool = True):
    """KMEANS_ITERS deterministic Lloyd iterations over any (vec_id, emb)
    frame — the shared trainer behind x_cluster_kmeans (full vectors) and
    x_knn_pq (per-subspace codebooks). Same determinism contract
    everywhere: seed centroids are the k lowest vec_ids, distances are
    sequential index-order double folds, argmin ties break on cluster_id,
    centroid means accumulate in DECIMAL(27,12)."""
    w0 = W.orderBy("vec_id")
    cents = (
        emb_dbl.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w0) - 1).alias("cluster_id"),
            F.col("emb").alias("cent"),
        )
    )
    assign = None
    for it in range(1, KMEANS_ITERS + 1):
        # Assignment is MAP-SIDE (packed_argmin_assign): the former
        # groupBy(vec_id) variant put the full corpus' vectors through a
        # shuffle once per iteration.
        assign = packed_argmin_assign(emb_dbl, cents)
        if it < KMEANS_ITERS:
            cents = decimal_mean_centroids(assign, "cluster_id")
    # Materialize the trained quantizer and final assignment: every
    # consumer (cluster rollup, IVF routing, PQ encode, ADC scoring)
    # re-reads them several times, and without a persist each re-read
    # replays the full iterative lineage. At 100 TB this is the
    # write-the-model-to-parquet step between train and serve.
    # materialize=False exposes the raw iterative plan (used by the
    # plan-shape test asserting broadcast centroids per iteration).
    if materialize:
        return cached(cents), cached(assign)
    return cents, assign


TRAINED_PROBE_CELLS = 2  # trained-IVF: cells searched per probe (of K_CLUSTERS)


def _ivf_trained_oracle() -> str:
    """x_knn_ivf_trained oracle: the k-means CTEs (training) composed with
    the IVF search — probe the TRAINED_PROBE_CELLS nearest trained cells,
    exact-cosine rerank inside them. Every stage deterministic, so the
    whole train->index->search pipeline is value-hash-checked."""
    last_cent = f"cent{KMEANS_ITERS - 1}"
    last_assign = f"assign{KMEANS_ITERS}"
    ctes = _kmeans_ctes() + [
        f"probes AS (SELECT vec_id AS probe_id, emb AS pemb FROM dbl"
        f" ORDER BY vec_id LIMIT {N_PROBES})",
        f"pcells AS (SELECT probe_id, pemb, cluster_id FROM ("
        f" SELECT p.probe_id, p.pemb, c.cluster_id,"
        f" row_number() OVER (PARTITION BY p.probe_id"
        f" ORDER BY {_sqdist_sql('p.pemb', 'c.cent')} ASC, c.cluster_id ASC) AS crnk"
        f" FROM probes p CROSS JOIN {last_cent} c) t WHERE crnk <= {TRAINED_PROBE_CELLS})",
        f"scored AS (SELECT pc.probe_id, a.vec_id AS neighbor_id,"
        f" round({_cos_sql('pc.pemb', 'a.emb')}, 6) AS cosine"
        f" FROM pcells pc JOIN {last_assign} a ON a.cluster_id = pc.cluster_id"
        f" WHERE a.vec_id <> pc.probe_id)"
    ]
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT probe_id, neighbor_id, cosine, rnk FROM (
            SELECT probe_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) t WHERE rnk <= {TOP_K}
        ORDER BY probe_id, rnk
    """
    )


@register("x_knn_ivf_trained", tags=("EXT", "X3", "F4", "F5"), oracle=_ivf_trained_oracle())
def x_knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF kNN over a TRAINED coarse quantizer — the full
    train -> index -> search ANN pipeline: x_cluster_kmeans' Lloyd
    iterations produce the cell centroids and the cell assignment, then
    each probe searches its TRAINED_PROBE_CELLS nearest cells with exact
    cosine rerank. Complements x_knn_ivf (seed centroids stand-in) with
    the production shape, and the whole pipeline stays deterministic, so
    the DuckDB oracle replays training AND search for a full value-hash
    check.

    100 TB design: training runs on the corpus (or a sample) with
    broadcast centroids; the assignment is exactly the partition key the
    corpus would be written bucketed by, making each probe a
    partition-pruned scan of TRAINED_PROBE_CELLS/K_CLUSTERS of the data.
    Search joins probes (broadcast) to cells by key — hash joins
    end-to-end, no nested loop."""
    cents, assign = _kmeans_fit(spark, sf_dir)
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
        .filter(F.col("crnk") <= TRAINED_PROBE_CELLS)
        .select("probe_id", "pemb", "cluster_id")
    )
    cos = F.round(cosine_similarity(F.col("pemb"), F.col("emb")), 6)
    scored = (
        F.broadcast(pcells)
        .join(assign, "cluster_id")
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "rnk")
        .orderBy("probe_id", "rnk")
    )


@register(
    "x_ann_index_persist",
    tags=("EXT", "X3", "S5", "S6", "J5"),
    oracle=_ivf_trained_oracle(),
)
def x_ann_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-database SERVING shape: persist the trained IVF index
    to parquet PARTITIONED BY cluster_id, then answer probes from the
    on-disk index with a partition-PRUNED scan — completing the
    train -> index -> WRITE -> serve lifecycle that x_knn_ivf_trained
    (same output, same oracle) executes in one job. The index write is
    cached per scale factor (deterministic Lloyd output, so a reread is
    bit-identical), which is exactly the production split: training is
    a batch job, serving rereads only the index.

    Plan evidence: the probe cells arrive as a runtime broadcast, so
    Catalyst injects `dynamicpruningexpression(cluster_id IN ...)` into
    the index scan's PartitionFilters (test_scale_plans pins it) — at
    100 TB each probe batch reads TRAINED_PROBE_CELLS/K_CLUSTERS of the
    index files and none of the rest, the IVF promise made physical in
    the file layout rather than in a shuffle."""
    cents, assign = _kmeans_fit(spark, sf_dir)
    from ..sources.loader import derived_cache_path, source_content_tag

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    # Content tag in the key: a regenerated drop at the same path must
    # not be served from the previous corpus's persisted index; the
    # shared helper also sweeps superseded same-prefix generations.
    path = derived_cache_path(
        "ann_index", f"ivf_{sf_tag}", source_content_tag(sf_dir, ["embeddings"])
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        assign.select("vec_id", "emb", "cluster_id").write.mode("overwrite").partitionBy(
            "cluster_id"
        ).parquet(path)
    index = spark.read.parquet(path)
    probes = (
        index.orderBy("vec_id")
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
        .filter(F.col("crnk") <= TRAINED_PROBE_CELLS)
        .select("probe_id", "pemb", "cluster_id")
    )
    cos = F.round(cosine_similarity(F.col("pemb"), F.col("emb")), 6)
    scored = (
        index.join(F.broadcast(pcells), "cluster_id")
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "rnk")
        .orderBy("probe_id", "rnk")
    )


INGEST_MOD = 10  # incremental ingest demo: vec_id % MOD == ARM is "arriving"
INGEST_ARM = 7


def _ingest_oracle() -> str:
    """x_ann_index_ingest oracle: train the quantizer (k-means CTEs),
    then route ONLY the arriving batch through the frozen centroids —
    same argmin, same tie-break, decimal-exact per-cell distance sums."""
    last_cent = f"cent{KMEANS_ITERS - 1}"
    d_expr = _sqdist_sql("b.emb", "c.cent")
    ctes = _kmeans_ctes() + [
        f"batch AS (SELECT vec_id, emb FROM dbl"
        f" WHERE vec_id % {INGEST_MOD} = {INGEST_ARM})",
        f"routed AS (SELECT vec_id, cluster_id, dist FROM ("
        f" SELECT b.vec_id, c.cluster_id, {d_expr} AS dist,"
        f" row_number() OVER (PARTITION BY b.vec_id"
        f" ORDER BY {d_expr} ASC, c.cluster_id ASC) AS rn"
        f" FROM batch b CROSS JOIN {last_cent} c) t WHERE rn = 1)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + """
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_new,
               MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec,
               CAST(SUM(CAST(round(dist, 6) AS DECIMAL(24,6))) AS DOUBLE) AS sum_dist
        FROM routed GROUP BY cluster_id ORDER BY cluster_id
    """
    )


@register("x_ann_index_ingest", tags=("EXT", "X3", "F4", "F5", "A1"), oracle=_ingest_oracle())
def x_ann_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index ingest: a newly-arriving vector batch
    (vec_id % INGEST_MOD == INGEST_ARM stands in for the fresh drop) is
    routed through the FROZEN trained coarse quantizer — no retraining,
    no touch of the existing index — and summarized as the per-cell
    ingest manifest (count, id range, decimal-exact distance mass) a
    writer job would record while appending to the cell partitions of
    the persisted index (x_ann_index_persist).

    100 TB design: ingest cost is O(batch), the x_dedup_incremental_band
    contract applied to vectors — centroids broadcast once (K x dim
    doubles), cell assignment is the same map-side array_min argmin as
    Lloyd's (embeddings never cross an exchange), and the only shuffle
    is the per-cell manifest agg over <= K rows of partials. Periodic
    retraining when cell occupancy drifts is the documented offline
    path; serving reads are unaffected because appends land inside
    existing cluster_id partitions."""
    cents, _assign = _kmeans_fit(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % INGEST_MOD == INGEST_ARM).select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    routed = packed_argmin_assign(batch, cents).select("vec_id", "cluster_id", "dist")
    return (
        routed.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_new"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
            F.sum(F.round("dist", 6).cast("decimal(24,6)")).cast("double").alias("sum_dist"),
        )
        .orderBy("cluster_id")
    )


@register(
    "x_embedding_drift",
    tags=("EXT", "X3", "X4", "A5", "F4", "F5"),
    oracle=f"""
        WITH dbl AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
                   CASE WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 80
                        THEN 'train'
                        WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 90
                        THEN 'validation' ELSE 'test' END AS split
            FROM embeddings
        ),
        counts AS (SELECT split, COUNT(*) AS n FROM dbl GROUP BY split),
        cent AS (
            SELECT split, list(mean ORDER BY pos) AS cent FROM (
                SELECT split, pos,
                       CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mean
                FROM (SELECT split, unnest(emb) AS v,
                             unnest(range(1, len(emb) + 1)) AS pos FROM dbl) u
                GROUP BY split, pos) m GROUP BY split
        )
        SELECT a.split || '~' || b.split AS pair,
               CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
               round(sqrt({{_SQD}}), 6) AS l2,
               round({{_COS}}, 6) AS cos
        FROM cent a JOIN cent b ON a.split = 'train' AND b.split IN ('validation', 'test')
        JOIN counts ca ON ca.split = a.split
        JOIN counts cb ON cb.split = b.split
        ORDER BY pair
    """.replace("{_SQD}", _sqdist_sql("a.cent", "b.cent")).replace(
        "{_COS}", _cos_sql("a.cent", "b.cent")
    ),
)
def x_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift check — the two-sample monitoring
    primitive a training pipeline runs per data drop: deterministic
    80/10/10 hash split (the x_hash_split recipe on vec_id), per-split
    mean embedding with DECIMAL-exact component sums, then L2 and
    cosine between the train centroid and each held-out centroid. A
    shifted validation/test distribution (new scraper, new dedup
    policy) moves these numbers before it moves eval metrics.

    100 TB design: one narrow pass tags splits map-side (md5, no
    shuffle), the centroid agg ships one decimal per (split, pos) per
    partition — O(3 x dim) rows through the exchange regardless of
    corpus size — and the pairwise distance runs on a 3-row frame. The
    sequential index-order fold over the mean arrays keeps both
    engines' doubles bit-identical (the _sq_dist contract)."""
    emb = _t(spark, sf_dir, "embeddings")
    dbl = emb.select(hash_split("vec_id").alias("split"), as_double_array("embedding").alias("emb"))
    counts = dbl.groupBy("split").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cent = decimal_mean_centroids(dbl, "split").join(counts, "split")
    a = cent.alias("a")
    b = cent.alias("b")
    return (
        a.join(
            b,
            (F.col("a.split") == F.lit("train"))
            & F.col("b.split").isin("validation", "test"),
        )
        .select(
            F.concat_ws("~", "a.split", "b.split").alias("pair"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(F.sqrt(_sq_dist(F.col("a.cent"), F.col("b.cent"))), 6).alias("l2"),
            F.round(cosine_similarity(F.col("a.cent"), F.col("b.cent")), 6).alias("cos"),
        )
        .orderBy("pair")
    )


@register(
    "x_embed_coherence",
    tags=("EXT", "X3", "A5", "F4", "F5"),
    oracle="""
        WITH dbl AS (
            SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), nr AS (
            SELECT label, emb,
                   sqrt(CAST(list_aggregate(list_transform(emb,
                        x -> CAST(x * x AS DECIMAL(25,12))), 'sum') AS DOUBLE)) AS nrm
            FROM dbl
        ), r AS (
            SELECT label,
                   list_transform(emb, x -> CASE WHEN nrm = 0 THEN 0.0::DOUBLE
                                                 ELSE round(x / nrm, 6) END) AS rc
            FROM nr
        ), ex AS (
            SELECT label, unnest(rc) AS c, unnest(range(1, len(rc) + 1)) AS pos FROM r
        ), grid AS (
            SELECT label, pos,
                   SUM(CAST(c AS DECIMAL(18,6))) AS s,
                   SUM(CAST(c AS DECIMAL(18,6)) * CAST(c AS DECIMAL(18,6))) AS q,
                   COUNT(*) AS nn
            FROM ex GROUP BY label, pos
        ), intra AS (
            SELECT label,
                   (CAST(SUM(CAST(s AS DECIMAL(18,6)) * CAST(s AS DECIMAL(18,6)))
                             AS DOUBLE)
                    - CAST(SUM(q) AS DOUBLE))
                       / (MAX(nn) * (MAX(nn) - 1)) AS intra_raw,
                   MAX(nn) AS n
            FROM grid GROUP BY label
        ), inter AS (
            SELECT a.label AS la, b.label AS lb,
                   SUM(CAST(a.s AS DECIMAL(18,6)) * CAST(b.s AS DECIMAL(18,6))) AS dot
            FROM grid a JOIN grid b ON a.pos = b.pos AND a.label <> b.label
            GROUP BY a.label, b.label
        ), interm AS (
            SELECT la AS label,
                   MAX(round(CAST(dot AS DOUBLE) / (ca.n * cb.n), 6)) AS max_inter_cos
            FROM inter JOIN intra ca ON ca.label = inter.la
                       JOIN intra cb ON cb.label = inter.lb
            GROUP BY la
        )
        SELECT CAST(i.label AS BIGINT) AS label, CAST(i.n AS BIGINT) AS n_vecs,
               round(i.intra_raw, 6) AS intra_cos,
               m.max_inter_cos,
               round(round(i.intra_raw, 6) - m.max_inter_cos, 6) AS margin
        FROM intra i JOIN interm m USING (label)
        ORDER BY label
    """,
)
def x_embed_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-coherence audit of the embedding space: per label, the MEAN
    PAIRWISE COSINE among its vectors (intra) vs the worst mean pairwise
    cosine against any other label (max inter), and the margin between
    them — the gauge that says whether a labeling (topic, cluster
    assignment, source tag) is real structure in embedding space before
    anyone trains a router or balances a mixture on it. On the synthetic
    corpus the margins hover near zero: the labels are NOT cosine
    clusters — exactly the negative finding this audit exists to surface.

    The all-pairs sums never materialize pairs: with unit vectors u_i,
    sum_{i<>j} <u_i, u_j> = ||sum_i u_i||^2 - sum_i ||u_i||^2, so both
    statistics are exact functions of the per-(label, dim) component sums
    S_ld and square-sums Q_ld. Determinism: per-vector norms fold
    DECIMAL(25,12)-cast squares (order-free, and the fold's addition is
    typed to keep scale 12 — a wider accumulator would round each step
    at scale 11), normalized components are rounded to 6 dp, and every
    cross-row sum and product is DECIMAL-exact at scale <= 12 on both
    engines (s is re-narrowed to DECIMAL(18,6) before products so
    neither engine truncates the product scale); the only floats are
    the final divisions, rounded 6.

    100 TB design: normalization is a per-row higher-order function
    (map-side, no shuffle); ONE (label, dim)-keyed partial agg collapses
    the corpus to |labels| x 64 grid cells; the O(|labels|^2) inter
    comparison joins the persisted 640-row grid with itself — quadratic
    only in the label count, never in rows."""
    emb = _t(spark, sf_dir, "embeddings")
    dbl = emb.select(
        F.col("label").cast("bigint").alias("label"),
        as_double_array("embedding").alias("emb"),
    )
    nr = dbl.withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                # Term and accumulator both at precision 25 so the fold's
                # addition types as decimal(26,12) — SAME scale, no per-step
                # rounding (a (38,12) accumulator would make each addition
                # round at scale 11). |acc| <= 64 * max(x^2): far inside 13
                # integer digits.
                F.transform("emb", lambda x: (x * x).cast("decimal(25,12)")),
                F.lit(0).cast("decimal(25,12)"),
                lambda acc, x: (acc + x).cast("decimal(25,12)"),
            ).cast("double")
        ),
    )
    r = nr.select(
        "label",
        F.transform(
            "emb",
            lambda x: F.when(F.col("nrm") == 0, F.lit(0.0)).otherwise(
                F.round(x / F.col("nrm"), 6)
            ),
        ).alias("rc"),
    )
    cdec = F.col("c").cast("decimal(18,6)")
    grid = cached(
        r.select("label", F.posexplode("rc").alias("pos", "c"))
        .groupBy("label", "pos")
        .agg(
            F.sum(cdec).alias("s"),
            F.sum(cdec * cdec).alias("q"),
            F.count(F.lit(1)).alias("nn"),
        )
    )
    # s comes out of the grid agg as decimal(28,6); multiplying THAT type
    # would cap the product at decimal(38,6) and round every s*s to 6 dp
    # (the oracle keeps 12) — re-narrowing to decimal(18,6) first is
    # lossless for |s| < 1e12 and keeps the products exact at scale 12 on
    # both engines.
    def s18(col: str) -> F.Column:
        return F.col(col).cast("decimal(18,6)")

    intra = grid.groupBy("label").agg(
        (
            (F.sum(s18("s") * s18("s")).cast("double") - F.sum("q").cast("double"))
            / (F.max("nn") * (F.max("nn") - 1))
        ).alias("intra_raw"),
        F.max("nn").cast("bigint").alias("n"),
    )
    a, b = grid.alias("a"), grid.alias("b")
    dots = (
        a.join(b, (F.col("a.pos") == F.col("b.pos")) & (F.col("a.label") != F.col("b.label")))
        .groupBy(F.col("a.label").alias("la"), F.col("b.label").alias("lb"))
        .agg(F.sum(s18("a.s") * s18("b.s")).alias("dot"))
    )
    ns = intra.select("label", "n")
    interm = (
        dots.join(ns.withColumnRenamed("label", "la").withColumnRenamed("n", "na"), "la")
        .join(ns.withColumnRenamed("label", "lb").withColumnRenamed("n", "nb"), "lb")
        .groupBy(F.col("la").alias("label"))
        .agg(
            F.max(
                F.round(F.col("dot").cast("double") / (F.col("na") * F.col("nb")), 6)
            ).alias("max_inter_cos")
        )
    )
    return (
        intra.join(interm, "label")
        .select(
            "label",
            F.col("n").alias("n_vecs"),
            F.round("intra_raw", 6).alias("intra_cos"),
            "max_inter_cos",
            F.round(F.round("intra_raw", 6) - F.col("max_inter_cos"), 6).alias("margin"),
        )
        .orderBy("label")
    )


QUANT_LEVELS = 255  # int8 scalar quantization: levels per dimension


@register(
    "x_vec_quantize",
    tags=("EXT", "X3", "X5", "F4", "F5"),
    oracle=f"""
        WITH dbl AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ),
        stats AS (
            SELECT pos, MIN(v) AS mn, MAX(v) AS mx
            FROM (SELECT unnest(emb) AS v, unnest(range(1, len(emb) + 1)) AS pos
                  FROM dbl) u
            GROUP BY pos
        ),
        arrs AS (
            SELECT list(mn ORDER BY pos) AS mins,
                   list(CASE WHEN mx = mn THEN 0.0
                             ELSE (mx - mn) / {QUANT_LEVELS} END ORDER BY pos) AS scales
            FROM stats
        ),
        q AS (
            SELECT d.vec_id, d.label, a.mins, a.scales,
                   list_transform(range(1, {EMB_DIM} + 1),
                       i -> CASE WHEN a.scales[i] = 0 THEN 0
                                 ELSE CAST(round((d.emb[i] - a.mins[i]) / a.scales[i])
                                           AS BIGINT) END) AS qv,
                   d.emb
            FROM dbl d CROSS JOIN arrs a
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(list_aggregate(qv, 'sum')) AS BIGINT) AS sum_q,
               CAST(SUM(CAST(round(
                   list_aggregate(list_transform(range(1, {EMB_DIM} + 1),
                       i -> abs(emb[i] - (mins[i] + qv[i] * scales[i]))), 'sum'),
                   6) AS DECIMAL(18,6))) AS DOUBLE) AS recon_err
        FROM q GROUP BY label ORDER BY label
    """,
)
def x_vec_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the standard
    4x storage/bandwidth compression before ANN indexing at 100 TB:
    per-dimension global [min, max] is learned in one aggregate, each
    vector quantizes to QUANT_LEVELS levels, and the query reports
    per-label quantized mass plus total L1 reconstruction error.

    Deterministic end-to-end: min/max are exact, the quantize/dequantize
    arithmetic is IEEE double with identical op order on both engines
    (round-half-away ties match Spark's HALF_UP for the non-negative
    operand), per-vector error folds sequentially, and the final sums
    accumulate 6-dp decimals — so the oracle value-hash-checks the whole
    codec.

    100 TB design: the stats pass is a (dim)-keyed partial agg (64 rows
    out), the codec itself is map-only with the 64-entry codebook
    broadcast — the same shape as applying any learned per-column
    transform. Quantized vectors would be written as array<tinyint>
    cutting the embedding store 4x; recall impact is bounded by
    scale/2 per dimension. Reference parity: no vector surface in the
    reference (SURVEY.md §2.10 X3/X5 mandate)."""
    emb = _t(spark, sf_dir, "embeddings")
    emb_dbl = emb.select("vec_id", "label", as_double_array("embedding").alias("emb"))
    ex = emb_dbl.select(F.posexplode("emb").alias("pos", "v"))
    stats = ex.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    scale = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        (F.col("mx") - F.col("mn")) / QUANT_LEVELS
    )
    arrs = (
        stats.select(F.struct("pos", "mn", scale.alias("sc")).alias("s"))
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select(
            F.transform("ss", lambda s: s["mn"]).alias("mins"),
            F.transform("ss", lambda s: s["sc"]).alias("scales"),
        )
    )
    idx = F.sequence(F.lit(1), F.lit(EMB_DIM))

    def _q(i):
        sc = F.element_at("scales", i)
        return (
            F.when(sc == 0, F.lit(0).cast("bigint"))
            .otherwise(
                F.round((F.element_at("emb", i) - F.element_at("mins", i)) / sc).cast(
                    "bigint"
                )
            )
        )

    def _err(i):
        return F.abs(
            F.element_at("emb", i)
            - (
                F.element_at("mins", i)
                + F.element_at("qv", i) * F.element_at("scales", i)
            )
        )

    q = emb_dbl.crossJoin(F.broadcast(arrs)).withColumn(
        "qv", F.transform(idx, _q)
    )
    per_vec = q.select(
        "label",
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias("qsum"),
        F.round(
            F.aggregate(F.transform(idx, _err), F.lit(0.0), lambda acc, x: acc + x), 6
        )
        .cast("decimal(18,6)")
        .alias("verr"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("qsum").cast("bigint").alias("sum_q"),
            F.sum("verr").cast("double").alias("recon_err"),
        )
        .orderBy("label")
    )


PQ_M = 4  # product-quantization subspaces
PQ_SUBDIM = EMB_DIM // PQ_M  # dims per subspace
PQ_K = 4  # codebook size per subspace (codes are 2 bits here, 8 bits in prod)


def _pq_subdist_sql(a: str, b: str) -> str:
    """Sequential index-order squared-L2 fold over one PQ subspace."""
    return (
        f"list_aggregate(list_transform(range(1, {PQ_SUBDIM} + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    )


def _pq_ctes() -> list[str]:
    """Per-subspace Lloyd training + encoding as DuckDB CTEs — the
    _kmeans_ctes recipe instantiated PQ_M times over vector slices
    (DuckDB list slices are 1-based inclusive; Spark's F.slice(lo, n)
    matches)."""
    d_expr = _pq_subdist_sql("d.emb", "c.cent")
    ctes = [
        "dbl AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb"
        " FROM embeddings)"
    ]
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        ctes.append(
            f"sub{m} AS (SELECT vec_id, emb[{lo}:{hi}] AS emb FROM dbl)"
        )
        ctes.append(
            f"cent0_{m} AS (SELECT row_number() OVER (ORDER BY vec_id) - 1"
            f" AS cluster_id, emb AS cent FROM (SELECT vec_id, emb FROM sub{m}"
            f" ORDER BY vec_id LIMIT {PQ_K}) s)"
        )
        for it in range(1, KMEANS_ITERS + 1):
            ctes.append(
                f"assign{it}_{m} AS (SELECT vec_id, emb, cluster_id FROM ("
                f" SELECT d.vec_id, d.emb, c.cluster_id,"
                f" row_number() OVER (PARTITION BY d.vec_id"
                f" ORDER BY {d_expr} ASC, c.cluster_id ASC) AS rn"
                f" FROM sub{m} d CROSS JOIN cent{it - 1}_{m} c) t WHERE rn = 1)"
            )
            if it < KMEANS_ITERS:
                ctes.append(
                    f"cent{it}_{m} AS (SELECT cluster_id, list(mean ORDER BY pos)"
                    f" AS cent FROM (SELECT cluster_id, pos,"
                    f" CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mean"
                    f" FROM (SELECT cluster_id, unnest(emb) AS v,"
                    f" unnest(range(1, len(emb) + 1)) AS pos FROM assign{it}_{m}) u"
                    f" GROUP BY cluster_id, pos) m GROUP BY cluster_id)"
                )
    return ctes


def _pq_oracle() -> str:
    last = KMEANS_ITERS
    quant = KMEANS_ITERS - 1  # codebook the final assignment used
    code_cols = ", ".join(
        f"a{m}.cluster_id AS c{m}" for m in range(PQ_M)
    )
    code_joins = " ".join(
        f"JOIN assign{last}_{m} a{m} ON a{m}.vec_id = a0.vec_id"
        for m in range(1, PQ_M)
    )
    lut_ctes = ",\n".join(
        f"lut{m} AS (SELECT p.probe_id, c.cluster_id,"
        f" {_pq_subdist_sql('p.emb', 'c.cent')} AS dist"
        f" FROM psub{m} p CROSS JOIN cent{quant}_{m} c)"
        for m in range(PQ_M)
    )
    psub_ctes = ",\n".join(
        f"psub{m} AS (SELECT probe_id, pemb[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}]"
        f" AS emb FROM pdbl)"
        for m in range(PQ_M)
    )
    adc_sum = " + ".join(f"l{m}.dist" for m in range(PQ_M))
    lut_joins = " ".join(
        f"JOIN lut{m} l{m} ON l{m}.probe_id = l0.probe_id"
        f" AND l{m}.cluster_id = b.c{m}"
        for m in range(1, PQ_M)
    )
    return (
        "WITH "
        + ",\n".join(_pq_ctes())
        + f""",
        codes AS (SELECT a0.vec_id, {code_cols} FROM assign{last}_0 a0 {code_joins}),
        probes AS (SELECT vec_id AS probe_id, embedding AS probe_emb
                   FROM embeddings ORDER BY vec_id LIMIT {N_PROBES}),
        pdbl AS (SELECT probe_id, list_transform(probe_emb, x -> CAST(x AS DOUBLE))
                 AS pemb FROM probes),
        {psub_ctes},
        {lut_ctes},
        adc AS (
            SELECT l0.probe_id, b.vec_id AS neighbor_id,
                   round({adc_sum}, 6) AS adc_dist
            FROM codes b JOIN lut0 l0 ON l0.cluster_id = b.c0 {lut_joins}
            WHERE b.vec_id <> l0.probe_id
        )
        SELECT probe_id, neighbor_id, adc_dist, rnk FROM (
            SELECT probe_id, neighbor_id, adc_dist,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY adc_dist ASC, neighbor_id ASC) AS rnk
            FROM adc
        ) t WHERE rnk <= {TOP_K}
        ORDER BY probe_id, rnk
    """
    )


@register("x_knn_pq", tags=("EXT", "X3", "F4", "F5", "O3"), oracle=_pq_oracle())
def x_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011, public): the embedding
    splits into PQ_M subspaces, each trained to a PQ_K-centroid codebook
    by the shared _lloyd trainer; every base vector is encoded as PQ_M
    small codes; a query scores candidates by Asymmetric Distance
    Computation — its per-subspace distances to each codebook entry form
    a (PQ_M x PQ_K) lookup table and a candidate's distance is the
    fixed-order sum of its codes' table entries. Fully oracle-checked:
    training, encoding, LUTs, and the explicit d0+d1+d2+d3 ADC sum are
    all cross-engine deterministic (same recipes as x_cluster_kmeans).

    100 TB design: PQ is THE memory-bound ANN layout — a 64-dim float
    vector (256 B) compresses to PQ_M log2(PQ_K)-bit codes (1 B here,
    8 B at production 8x256 codebooks), so a trillion-vector index fits
    a modest cluster. Scoring is a map-only scan of the code table with
    broadcast LUTs (N_PROBES x PQ_M x PQ_K doubles) and a per-partition
    top-k window; training touches full vectors once per iteration with
    broadcast centroids. In production this composes with IVF
    (x_knn_ivf_trained) as IVF-PQ: coarse cell first, ADC within probed
    cells. Reference parity: no vector surface in the reference
    (SURVEY.md §2.10 X3 mandate)."""
    emb = _emb(spark, sf_dir)
    emb_dbl = emb.select("vec_id", as_double_array("embedding").alias("emb"))

    codes = None
    luts = []
    probes = _probes(emb).select(
        "probe_id", as_double_array("probe_emb").alias("pemb")
    )
    for m in range(PQ_M):
        sub = emb_dbl.select(
            "vec_id", F.slice("emb", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("emb")
        )
        cents, assign = _lloyd(sub, PQ_K)
        code_m = assign.select("vec_id", F.col("cluster_id").alias(f"c{m}"))
        codes = code_m if codes is None else codes.join(code_m, "vec_id")
        psub = probes.select(
            "probe_id", F.slice("pemb", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("emb")
        )
        lut = (
            psub.crossJoin(F.broadcast(cents))
            .select(
                "probe_id",
                F.col("cluster_id").alias(f"c{m}"),
                _sq_dist(F.col("emb"), F.col("cent")).alias(f"d{m}"),
            )
        )
        luts.append(lut)

    scored = codes.join(F.broadcast(luts[0]), [f"c{0}"])
    for m in range(1, PQ_M):
        scored = scored.join(F.broadcast(luts[m]), ["probe_id", f"c{m}"])
    adc = (
        scored.filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.col("d0") + F.col("d1") + F.col("d2") + F.col("d3"), 6
            ).alias("adc_dist"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "neighbor_id", "adc_dist", "rnk")
        .orderBy("probe_id", "rnk")
    )


def _ivfpq_oracle() -> str:
    """x_knn_ivfpq oracle: coarse k-means CTEs (cells) + PQ CTEs
    (codebooks/codes) + probed-cell-restricted ADC scoring. _pq_ctes'
    duplicate `dbl` CTE is dropped (the coarse CTEs already define it)."""
    last_cent = f"cent{KMEANS_ITERS - 1}"
    last_assign = f"assign{KMEANS_ITERS}"
    pq_last = KMEANS_ITERS
    pq_quant = KMEANS_ITERS - 1
    code_cols = ", ".join(f"a{m}.cluster_id AS c{m}" for m in range(PQ_M))
    code_joins = " ".join(
        f"JOIN {pq_last and f'assign{pq_last}_{m}'} a{m} ON a{m}.vec_id = a0.vec_id"
        for m in range(1, PQ_M)
    )
    psub_ctes = ",\n".join(
        f"psub{m} AS (SELECT probe_id, pemb[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}]"
        f" AS emb FROM probes)"
        for m in range(PQ_M)
    )
    lut_ctes = ",\n".join(
        f"lut{m} AS (SELECT p.probe_id, c.cluster_id,"
        f" {_pq_subdist_sql('p.emb', 'c.cent')} AS dist"
        f" FROM psub{m} p CROSS JOIN cent{pq_quant}_{m} c)"
        for m in range(PQ_M)
    )
    adc_sum = " + ".join(f"l{m}.dist" for m in range(PQ_M))
    lut_joins = " ".join(
        f"JOIN lut{m} l{m} ON l{m}.probe_id = pc.probe_id"
        f" AND l{m}.cluster_id = b.c{m}"
        for m in range(1, PQ_M)
    )
    ctes = _kmeans_ctes() + _pq_ctes()[1:] + [
        f"codes AS (SELECT a0.vec_id, {code_cols} FROM assign{pq_last}_0 a0 {code_joins})",
        f"probes AS (SELECT vec_id AS probe_id, emb AS pemb FROM dbl"
        f" ORDER BY vec_id LIMIT {N_PROBES})",
        f"pcells AS (SELECT probe_id, cluster_id FROM ("
        f" SELECT p.probe_id, c.cluster_id,"
        f" row_number() OVER (PARTITION BY p.probe_id"
        f" ORDER BY {_sqdist_sql('p.pemb', 'c.cent')} ASC, c.cluster_id ASC) AS crnk"
        f" FROM probes p CROSS JOIN {last_cent} c) t WHERE crnk <= {TRAINED_PROBE_CELLS})",
        psub_ctes,
        lut_ctes,
        f"adc AS (SELECT pc.probe_id, b.vec_id AS neighbor_id,"
        f" round({adc_sum}, 6) AS adc_dist"
        f" FROM pcells pc"
        f" JOIN {last_assign} ca ON ca.cluster_id = pc.cluster_id"
        f" JOIN codes b ON b.vec_id = ca.vec_id"
        f" JOIN lut0 l0 ON l0.probe_id = pc.probe_id AND l0.cluster_id = b.c0"
        f" {lut_joins}"
        f" WHERE b.vec_id <> pc.probe_id)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT probe_id, neighbor_id, adc_dist, rnk FROM (
            SELECT probe_id, neighbor_id, adc_dist,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY adc_dist ASC, neighbor_id ASC) AS rnk
            FROM adc
        ) t WHERE rnk <= {TOP_K}
        ORDER BY probe_id, rnk
    """
    )


@register("x_knn_ivfpq", tags=("EXT", "X3", "F4", "F5", "O3"), oracle=_ivfpq_oracle())
def x_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production trillion-vector ANN layout (FAISS's
    IVFADC, Jegou et al. 2011): a trained coarse quantizer
    (x_cluster_kmeans cells) routes each query to its
    TRAINED_PROBE_CELLS nearest cells, and candidates inside those
    cells are scored by PQ asymmetric distance (x_knn_pq codebooks) —
    compressed codes, never full vectors, in the scan. The entire
    train -> encode -> route -> ADC pipeline is cross-engine
    deterministic and value-hash-checked against a composed oracle.

    100 TB design: the index is (cell_id, pq_codes) — ~1 byte/vector
    here, 9 at production scale — partitioned BY cell_id, so a probe
    touches TRAINED_PROBE_CELLS partitions (partition pruning on the
    routing key) and streams codes against a broadcast
    (probe x subspace x code) LUT. Both stages' selectivity is tunable
    (cells probed, codebook size) without changing the plan shape.
    Composes x_cluster_kmeans (coarse) + x_knn_pq (fine); exact rerank
    of the ADC top-k against full vectors (x_knn's scan) is the
    standard optional third stage. Measured recall vs brute force on the
    driver's isotropic-noise embeddings (LSH's same worst case): 0.10 at
    8 total code bits — the compression/recall knob reads exactly as the
    PQ literature predicts; production 8-bit-per-subspace codebooks and
    the exact-rerank stage recover it. Reference parity: no vector
    surface in the reference (SURVEY.md §2.10 X3 mandate)."""
    emb = _t(spark, sf_dir, "embeddings")
    emb_dbl = emb.select("vec_id", as_double_array("embedding").alias("emb"))

    coarse_cents, coarse_assign = _kmeans_fit(spark, sf_dir)
    cell_of = coarse_assign.select("vec_id", F.col("cluster_id").alias("cell"))

    codes = None
    luts = []
    probes = _probes(emb).select(
        "probe_id", as_double_array("probe_emb").alias("pemb")
    )
    for m in range(PQ_M):
        sub = emb_dbl.select(
            "vec_id", F.slice("emb", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("emb")
        )
        cents, assign = _lloyd(sub, PQ_K)
        code_m = assign.select("vec_id", F.col("cluster_id").alias(f"c{m}"))
        codes = code_m if codes is None else codes.join(code_m, "vec_id")
        psub = probes.select(
            "probe_id", F.slice("pemb", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("emb")
        )
        luts.append(
            psub.crossJoin(F.broadcast(cents)).select(
                "probe_id",
                F.col("cluster_id").alias(f"c{m}"),
                _sq_dist(F.col("emb"), F.col("cent")).alias(f"d{m}"),
            )
        )

    pcells = (
        probes.crossJoin(F.broadcast(coarse_cents))
        .select(
            "probe_id",
            "cluster_id",
            _sq_dist(F.col("pemb"), F.col("cent")).alias("cdist"),
        )
        .withColumn(
            "crnk",
            F.row_number().over(
                W.partitionBy("probe_id").orderBy(F.asc("cdist"), F.asc("cluster_id"))
            ),
        )
        .filter(F.col("crnk") <= TRAINED_PROBE_CELLS)
        .select("probe_id", F.col("cluster_id").alias("cell"))
    )

    indexed = codes.join(cell_of, "vec_id")
    scored = indexed.join(F.broadcast(pcells), "cell")
    scored = scored.join(F.broadcast(luts[0]), ["probe_id", "c0"])
    for m in range(1, PQ_M):
        scored = scored.join(F.broadcast(luts[m]), ["probe_id", f"c{m}"])
    adc = (
        scored.filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.col("d0") + F.col("d1") + F.col("d2") + F.col("d3"), 6
            ).alias("adc_dist"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "neighbor_id", "adc_dist", "rnk")
        .orderBy("probe_id", "rnk")
    )


# The recall@k / probe-curve harnesses (x_ann_recall, x_pq_recall,
# x_ivf_recall, x_ivf_probe_curve) live in operators/knn_eval.py.


# ---------------------------------------------------------------------------
# x_jl_projection — Johnson-Lindenstrauss sign projection + distortion audit
# ---------------------------------------------------------------------------

JL_DIM = 16  # projected dimensions (from 64)
JL_PAIR_MOD = 29  # pair sample: (v, v+1) for vec_id % JL_PAIR_MOD == 0
JL_RATIO_LO, JL_RATIO_HI = 0.5, 2.0  # acceptable distortion band


def _jl_sign_strings(n_planes: int = JL_DIM, dim: int = 64) -> list[str]:
    """Deterministic ±1 sign planes as '+/-' strings: sign(j,k) = + iff
    the first hex digit of md5('jl:j:k') is even. hashlib here and
    md5() in the oracle produce the SAME planes — the engine-portable
    hash family (the x_dedup_simhash_det convention)."""
    import hashlib

    return [
        "".join(
            "+" if int(hashlib.md5(f"jl:{j}:{k}".encode()).hexdigest()[0], 16) % 2 == 0
            else "-"
            for k in range(dim)
        )
        for j in range(n_planes)
    ]


def _jl_oracle() -> str:
    planes = _jl_sign_strings()
    plane_rows = ", ".join(f"({j}, '{s}')" for j, s in enumerate(planes))
    return f"""
        WITH planes(j, s) AS (VALUES {plane_rows}),
        elems AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS k
            FROM embeddings
            WHERE vec_id % {JL_PAIR_MOD} = 0 OR (vec_id - 1) % {JL_PAIR_MOD} = 0
        ),
        proj AS (
            SELECT e.vec_id, p.j,
                   SUM(CAST(round(CASE WHEN substring(p.s, e.k, 1) = '+'
                                       THEN CAST(e.x AS DOUBLE)
                                       ELSE -CAST(e.x AS DOUBLE) END, 6)
                            AS DECIMAL(18,6))) AS y
            FROM elems e CROSS JOIN planes p
            GROUP BY e.vec_id, p.j
        ),
        dproj AS (
            SELECT a.vec_id,
                   SUM(CAST(round((CAST(a.y AS DOUBLE) - CAST(b.y AS DOUBLE))
                                  * (CAST(a.y AS DOUBLE) - CAST(b.y AS DOUBLE)), 6)
                            AS DECIMAL(24,6))) AS d2p
            FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1 AND b.j = a.j
            WHERE a.vec_id % {JL_PAIR_MOD} = 0
            GROUP BY a.vec_id
        ),
        dorig AS (
            SELECT a.vec_id,
                   SUM(CAST(round((CAST(a.x AS DOUBLE) - CAST(b.x AS DOUBLE))
                                  * (CAST(a.x AS DOUBLE) - CAST(b.x AS DOUBLE)), 6)
                            AS DECIMAL(24,6))) AS d2o
            FROM elems a JOIN elems b ON b.vec_id = a.vec_id + 1 AND b.k = a.k
            WHERE a.vec_id % {JL_PAIR_MOD} = 0
            GROUP BY a.vec_id
        ),
        ratios AS (
            SELECT round(CAST(p.d2p AS DOUBLE)
                         / ({JL_DIM} * CAST(o.d2o AS DOUBLE)), 6) AS r
            FROM dproj p JOIN dorig o USING (vec_id)
            WHERE CAST(o.d2o AS DOUBLE) > 0
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               round(CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_ratio,
               round(MIN(r), 6) AS min_ratio,
               round(MAX(r), 6) AS max_ratio,
               CAST(SUM(CASE WHEN r >= {JL_RATIO_LO} AND r <= {JL_RATIO_HI}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_within
        FROM ratios
    """


@register("x_jl_projection", tags=("EXT", "X3", "F5", "F4"), oracle=_jl_oracle())
def x_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection (Achlioptas 2003 ±1
    variant): 64-d embeddings projected to JL_DIM=16 dims by
    deterministic md5-parity sign planes, audited by squared-distance
    distortion ratio d²_proj / (JL_DIM · d²_orig) over a deterministic
    pair sample — E[ratio] = 1, and the report (avg/min/max ratio +
    in-band count) is the go/no-go gate before an embedding store swaps
    64 floats for 16 (4x cheaper ANN candidate generation feeding the
    LSH/IVF paths; PCA needs a trained basis, JL needs none).

    Determinism: planes are hashlib-vs-md5() identical literals; every
    per-dimension term is 6-dp-rounded into an order-free DECIMAL sum;
    ratio is one double division mirrored verbatim.

    100 TB design: the projection is a map-only expression (16 folds of
    a 64-term zip_with — no shuffle, no UDF, no trained state to ship);
    the audit's only joins are id-keyed on the pair sample. Projecting
    the full corpus for an embedding-store rewrite is the same
    projection expression in a writer, linear end to end.

    Reference parity: no vector surface in the reference (SURVEY.md
    §2.10 X3 mandate)."""
    planes = _jl_sign_strings()
    emb = _emb(spark, sf_dir).filter(
        (F.col("vec_id") % JL_PAIR_MOD == 0) | ((F.col("vec_id") - 1) % JL_PAIR_MOD == 0)
    )

    def _proj(j: int) -> F.Column:
        terms = F.zip_with(
            F.split(F.lit(planes[j]), ""),
            F.col("embedding"),
            lambda s, x: F.round(
                F.when(s == "+", x.cast("double")).otherwise(-x.cast("double")), 6
            ).cast("decimal(18,6)"),
        )
        return F.aggregate(
            terms,
            F.lit(0).cast("decimal(25,6)"),
            lambda acc, t: (acc + t).cast("decimal(25,6)"),
        ).cast("double")

    projected = emb.select(
        "vec_id",
        "embedding",
        F.array(*[_proj(j) for j in range(JL_DIM)]).alias("proj"),
    )
    a = projected.alias("a")
    b = projected.alias("b")
    pairs = (
        a.filter(F.col("a.vec_id") % JL_PAIR_MOD == 0)
        .join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.embedding").alias("ea"),
            F.col("b.embedding").alias("eb"),
            F.col("a.proj").alias("pa"),
            F.col("b.proj").alias("pb"),
        )
    )

    def _d2(x_col: str, y_col: str) -> F.Column:
        return F.aggregate(
            F.zip_with(
                F.col(x_col),
                F.col(y_col),
                lambda x, y: F.round(
                    (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                    6,
                ).cast("decimal(24,6)"),
            ),
            F.lit(0).cast("decimal(30,6)"),
            lambda acc, t: (acc + t).cast("decimal(30,6)"),
        ).cast("double")

    ratios = (
        pairs.select(
            _d2("pa", "pb").alias("d2p"),
            _d2("ea", "eb").alias("d2o"),
        )
        .filter(F.col("d2o") > 0)
        .select(F.round(F.col("d2p") / (JL_DIM * F.col("d2o")), 6).alias("r"))
    )
    return ratios.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("r").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("avg_ratio"),
        F.round(F.min("r"), 6).alias("min_ratio"),
        F.round(F.max("r"), 6).alias("max_ratio"),
        F.sum(F.when((F.col("r") >= JL_RATIO_LO) & (F.col("r") <= JL_RATIO_HI), 1).otherwise(0))
        .cast("bigint")
        .alias("n_within"),
    )
