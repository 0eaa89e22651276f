"""Deduplication operators (SURVEY.md §2.10 X1/X2): exact, hash-keyed,
MinHash-LSH, SimHash, and n-gram-Jaccard near-dup.

Scale notes (the whole point of these designs):
* Exact dedup shuffles a 16-byte digest, never the document body, until
  the final keep-one step.
* All near-dup paths are candidate-generation joins (band buckets /
  shared rare shingles), never an all-pairs crossJoin — at 100 TB the
  candidate set is ~linear in corpus size while all-pairs is quadratic.
* Frequent-shingle filtering caps the inverted-list blowup a hot shingle
  would cause (a shingle shared by k docs contributes k^2 pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..plans.relational import _t
from ..session import cached, pinned_conf
from ..sources.loader import scan_wide, wide_docs
from .graph import iterate


# One shared definition (sources/loader.wide_docs); local alias keeps
# call sites short.
_docs = wide_docs

N_MINHASH = 32  # minhash permutations
N_BANDS = 8  # LSH bands (4 rows/band) -> catches Jaccard >~ 0.6
SHINGLE_LEN = 5  # words per shingle
MAX_SHINGLE_FREQ = 20  # drop shingles hotter than this (stop-shingles)
MAX_BAND_FREQ = 50  # drop LSH band buckets holding more ids than this
MAX_CHUNK_FREQ = 64  # drop simhash chunk buckets hotter than this


@register(
    "x_dedup_exact",
    tags=("EXT", "X1"),
    oracle="""
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents
        ) t WHERE rn = 1 ORDER BY doc_id
    """,
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, keep lowest doc_id per identical text. Partitioning key
    is the md5 digest, not the text, so the shuffle moves 16 bytes per row."""
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "lang").orderBy("doc_id")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """docs + rn, keeping the lowest id per identical text (rn = 1). The
    shuffle key is the 16-byte md5 digest, never the document body."""
    w = W.partitionBy(F.md5(text_col)).orderBy(id_col)
    return docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)


@register(
    "x_dedup_hash_groups",
    tags=("EXT", "X1"),
    oracle="""
        SELECT sha256(text) AS content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
        FROM documents GROUP BY content_hash
        HAVING COUNT(*) > 1 ORDER BY content_hash
    """,
)
def x_dedup_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group report: sha256 content key -> copy count + keeper id.
    Empty when the corpus has no exact dups (still a valid oracle match)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_copies") > 1)
        .orderBy("content_hash")
    )


def shingles(text_col, n: int = SHINGLE_LEN):
    """Distinct word n-grams as strings, via JVM higher-order functions:
    tokens[i..i+n-1] joined with 0x1f for each valid start index. Texts
    shorter than n tokens yield an empty set."""
    toks = F.split(text_col, " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws("\x1f", F.slice(toks, i + 1, n)),
        )
    )
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(grams)


def shingle_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh: array<string>) — each doc's distinct shingle set.

    The short-doc guard filters on TOKEN COUNT, not on `size(sh) > 0`:
    the two are equivalent (`shingles` yields empty exactly when the doc
    has < SHINGLE_LEN tokens — a nonempty sequence() always leaves >= 1
    distinct gram), but a filter on the computed array would inline the
    whole shingle pipeline into an interpreted Predicate via
    CollapseProject — the round-9 HOF-in-Filter lint class
    (tools/planaudit.py lint (c)) — evaluating tokenize+md5+distinct
    twice per row wherever pushdown lands it. The token-count form is a
    cheap codegen-able split that pushdown may place anywhere."""
    return df.filter(
        F.size(F.split(F.col(text_col), " ")) >= SHINGLE_LEN
    ).select(F.col(id_col).alias("id"), shingles(F.col(text_col)).alias("sh"))


def freq_capped(
    df: DataFrame, keys: list[str], cap: int, style: str = "semijoin"
) -> DataFrame:
    """Drop bucket keys held by more than `cap` rows — the hot-bucket
    guard every banded-LSH candidate stage needs (a bucket of k ids is
    k²/2 pairs through ONE shuffle key; dense duplicate clusters are
    exact-dedup's job). Both historical styles are kept verbatim so
    every caller's physical plan — and therefore its value hash — is
    unchanged: 'semijoin' (partial-aggregated counts equi-joined back)
    and 'window' (count over the bucket partition). The style is also a
    perf lever: when the bucketed frame is EXPENSIVE to recompute (a
    wide aggregation feeds it), 'window' rides the join's own exchange
    and keeps the two self-join sides byte-identical for AQE exchange
    reuse, where 'semijoin' forks an uncapped count branch that differs
    from the join sides (no isnotnull pushdown) and recomputes the
    upstream per branch — the x_dedup_simhash_det round-9 creep."""
    if style == "window":
        w = W.partitionBy(*keys)
        return (
            df.withColumn("bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("bsz") <= cap)
            .drop("bsz")
        )
    ok = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= cap)
        .select(*keys)
    )
    return df.join(ok, keys)


def bucket_self_join(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """a ⋈ b on the bucket keys with a.id < b.id — THE shared candidate
    core of every banded join (minhash bands, simhash chunks, hyperplane
    buckets, shingle postings). Returns the joined frame with both
    aliased sides intact, so callers select 'a.…'/'b.…' payload columns
    or fold straight into pair aggregates."""
    from functools import reduce

    conds = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    conds.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return df.alias("a").join(df.alias("b"), reduce(lambda x, y: x & y, conds))


def candidate_pairs(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    cap: int | None = None,
    cap_style: str = "semijoin",
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs colliding on the bucket
    keys, optionally behind a freq_capped hot-bucket guard — the whole
    generate-candidates stage of an LSH/banded dedup in one call."""
    if cap is not None:
        df = freq_capped(df, keys, cap, cap_style)
    return (
        bucket_self_join(df, keys, id_col)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def rare_shingle_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(filtered, sizes) — THE rare-shingle inverted index: exploded
    (doc_id, shingle) rows with stop-shingles (freq > MAX_SHINGLE_FREQ)
    dropped, persisted, plus per-doc rare-shingle counts. One
    tokenization pass feeds the frequency cap and every downstream join
    branch; in production this frame is materialized once per corpus
    drop and serves every verify that needs shingle intersections
    (Jaccard, containment, corpus dedup) — see CorpusPipeline.
    shingle_index for the shared-materialization surface."""
    sh = cached(docs.select(
        F.col(id_col).alias("doc_id"), F.explode(shingles(F.col(text_col))).alias("shingle")
    ))
    rare = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq")).filter(
        F.col("freq") <= MAX_SHINGLE_FREQ
    )
    filtered = cached(sh.join(rare.select("shingle"), "shingle"))
    sizes = filtered.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return filtered, sizes


def index_pair_stats(filtered: DataFrame, sizes: DataFrame) -> DataFrame:
    """(id_a, id_b, inter, n_a, n_b) — per-candidate-pair intersection
    counts off the inverted index: the shared upstream of BOTH the
    symmetric-Jaccard and the asymmetric-containment verifies. The
    self-join on the shingle key is the only quadratic-risk stage and
    it is bounded by the index's frequency cap."""
    pairs = (
        bucket_self_join(filtered, ["shingle"], "doc_id")
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return pairs.join(sa, "id_a").join(sb, "id_b")


def jaccard_from_stats(stats: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard >= threshold off the shared pair stats."""
    jac = F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        stats.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def containment_from_stats(stats: DataFrame) -> DataFrame:
    """Broder containment (smaller side >= 80% inside the larger) off
    the shared pair stats; the 0.8 threshold is an integer
    cross-multiplication (5*inter >= 4*|A|), no float compare."""
    a_is_small = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    )
    dirn = stats.select(
        F.when(a_is_small, F.col("id_a")).otherwise(F.col("id_b")).alias("contained_id"),
        F.when(a_is_small, F.col("id_b")).otherwise(F.col("id_a")).alias("container_id"),
        "inter",
        F.least("n_a", "n_b").cast("bigint").alias("n_contained"),
    )
    return (
        dirn.filter(F.col("inter") * 5 >= F.col("n_contained") * 4)
        .select(
            "contained_id",
            "container_id",
            "inter",
            "n_contained",
            F.round(F.col("inter").cast("double") / F.col("n_contained"), 6).alias(
                "containment"
            ),
        )
        .orderBy("contained_id", "container_id")
    )


def minhash_signature(sh: DataFrame) -> DataFrame:
    """(id, band_id, band_hash) — MinHash over shingle sets, banded for LSH.

    minhash_s(doc) = min over shingles of xxhash64(shingle, seed s); the
    signature is folded into N_BANDS band hashes. The 32 minhashes are
    computed as explode + 32 partial-aggregated min()s rather than 32
    array-traversing HOF lambdas: codegen'd hashing + map-side combine
    measured ~40% faster at sf0.1, and per-seed F.lit inside min() also
    sidesteps the 2-arg-lambda index-binding trap (a two-param transform
    lambda receives (element, index), so the `lambda s, i=i:` capture
    idiom silently hashes with the array index — the round-1/2 bug)."""
    mins = (
        sh.select("id", F.explode("sh").alias("g"))
        .groupBy("id")
        .agg(*[F.min(F.xxhash64("g", F.lit(i))).alias(f"m{i}") for i in range(N_MINHASH)])
    )
    rows_per_band = N_MINHASH // N_BANDS
    sig = mins.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(N_MINHASH)]).alias("sig")
    )
    bands = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_id", "band.band_hash")
    return bands


def minhash_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", threshold: float = 0.6
) -> DataFrame:
    """(id_a, id_b, jaccard) — the MinHash-LSH near-dup spine: shingle
    -> 32-way minhash -> 8 bands -> capped self-join on (band_id,
    band_hash) -> verify exact shingle-Jaccard >= threshold. The join is
    on band buckets (candidates ~ linear), and verification re-joins
    only candidate ids back to their shingle sets.

    The shingle frame is cached so signature generation and the
    verification re-join share one tokenization pass (it feeds three
    plan branches); so is the band frame, which feeds the bucket-size
    cap pass and both sides of the candidate self-join (without it the
    32-hash signature aggregation runs three times). At cluster scale
    the equivalent move is materializing the signature/shingle table to
    parquet once per corpus snapshot."""
    sh = cached(shingle_frame(docs, id_col, text_col))
    bands = cached(minhash_signature(sh))
    # Hot-bucket cap (freq_capped): dense duplicate clusters that would
    # serialize one task are exact-dedup's job (x_dedup_exact).
    cand = candidate_pairs(bands, ["band_id", "band_hash"], "id", cap=MAX_BAND_FREQ)
    return (
        cand.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


@register("x_dedup_minhash", tags=("EXT", "X2"), oracle=None, bench=True)
def x_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (minhash_pairs), Jaccard >= 0.6."""
    return minhash_pairs(_t(spark, sf_dir, "documents")).orderBy("id_a", "id_b")


@register(
    "x_dedup_ngram_jaccard",
    tags=("EXT", "X2"),
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, unnest(list_distinct(
                [array_to_string(string_split(text, ' ')[i:i+{SHINGLE_LEN - 1}], chr(31))
                 FOR i IN range(1, len(string_split(text, ' ')) - {SHINGLE_LEN - 2})]
            )) AS shingle
            FROM documents
        ),
        rare AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_FREQ}
        ),
        filtered AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM filtered GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            FROM filtered a JOIN filtered b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5
        ORDER BY id_a, id_b
    """,
)
def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join: inverted index on rare word-5-grams ->
    per-pair intersection counts -> exact Jaccard >= 0.5. Stop-shingles
    (freq > MAX_SHINGLE_FREQ) are dropped on both engines, bounding the
    quadratic term. Fully SQL-expressible, so this one HAS a DuckDB oracle
    (unlike the hash-based sketches)."""
    docs = _t(spark, sf_dir, "documents")
    # rare_shingle_index persists the exploded index: it feeds the
    # frequency pass and three join branches (a-side, b-side, sizes) —
    # one tokenization pass instead of four. Cluster-scale equivalent:
    # materialize the index (CorpusPipeline.shingle_index shares ONE
    # materialization between this verify and the containment verify).
    filtered, sizes = rare_shingle_index(docs)
    return jaccard_from_stats(index_pair_stats(filtered, sizes))


def _ngram_pair_sql(select: str) -> str:
    """The x_dedup_ngram_jaccard oracle reduced to its pair list — shared
    by the connected-components oracle below."""
    return f"""
        WITH sh AS (
            SELECT doc_id, unnest(list_distinct(
                [array_to_string(string_split(text, ' ')[i:i+{SHINGLE_LEN - 1}], chr(31))
                 FOR i IN range(1, len(string_split(text, ' ')) - {SHINGLE_LEN - 2})]
            )) AS shingle
            FROM documents
        ),
        rare AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_FREQ}
        ),
        filtered AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM filtered GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            FROM filtered a JOIN filtered b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        dup_pairs AS (
            SELECT id_a, id_b
            FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5
        )
        {select}
    """


@register(
    "x_dedup_clusters",
    tags=("EXT", "X1", "X2"),
    oracle=_ngram_pair_sql("""
        , edges AS (
            SELECT id_a AS a, id_b AS b FROM dup_pairs
            UNION ALL
            SELECT id_b, id_a FROM dup_pairs
        ),
        reach(node, label) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
        )
        SELECT node AS doc_id, MIN(label) AS cluster_rep FROM reach
        GROUP BY node ORDER BY doc_id
    """).replace("WITH sh AS", "WITH RECURSIVE sh AS"),
)
def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: near-dup PAIRS (the ngram-Jaccard
    operator's output) resolved into connected components, each doc
    labeled with its cluster representative (the component's min id) —
    the decision step that turns pairwise similarity into keep-one
    dedup. Iterative min-label propagation: each round every node takes
    the min of its own and its neighbors' labels; converges in
    O(component diameter) rounds (near-dup clusters are tiny, so a
    handful of joins). The DuckDB oracle computes the same components
    with a recursive CTE."""
    pairs = x_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    labels, _rounds = label_propagation_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_rep")
    ).orderBy("doc_id")


def label_propagation_components(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Min-label propagation over an undirected pair set (id_a, id_b):
    returns ((node, label) — label = component min id, one row per node
    appearing in any pair) and the round count, which is O(max component
    diameter). Shared by x_dedup_clusters and the round-count experiment
    in tests/test_pipeline.py."""
    raw_edges = cached(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    # Size the iteration's partitioning from the component GRAPH, not the
    # corpus: the label frames hold only docs that appear in some near-dup
    # pair — a sliver of the corpus — so iterating them across the full
    # shuffle-partition count is pure scheduler overhead (measured 1.4 s
    # per round for 512 edges at sf0.1 over 32 partitions). ~100k edges
    # per partition keeps each round's frames executor-sized at any scale.
    n_edges = raw_edges.count()
    nparts = max(1, n_edges // 100_000)
    edges = cached(raw_edges.repartition(nparts, "dst"))
    labels0 = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .repartition(nparts, "node")
    )

    def propagate(labels: DataFrame) -> DataFrame:
        # min over self and neighbors in ONE groupBy: every node occurs
        # exactly once in labels, so unioning the neighbor contributions
        # with the node's own label and taking min(label) is exactly
        # least(own, neighbor-min) — one shuffle per round, not two joins.
        contrib = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"), "label"
        )
        return (
            contrib.unionByName(labels.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )

    # Witness: labels only ever decrease and are bounded below by each
    # component's min id, so the label sum strictly decreases until the
    # fixpoint. That proves termination in O(max component diameter)
    # rounds without a cap, and the output then equals the oracle's
    # transitive closure even for a pathological high-diameter chain.
    return iterate(labels0, propagate, [F.sum("label")], None)


@register(
    "x_dedup_corpus",
    tags=("EXT", "X1", "X2"),
    oracle=_ngram_pair_sql("""
        , edges AS (
            SELECT id_a AS a, id_b AS b FROM dup_pairs
            UNION ALL
            SELECT id_b, id_a FROM dup_pairs
        ),
        reach(node, label) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
        ),
        drop_ids AS (
            SELECT node FROM reach GROUP BY node HAVING node <> MIN(label)
        )
        SELECT d.doc_id, d.lang
        FROM documents d LEFT JOIN drop_ids x ON d.doc_id = x.node
        WHERE x.node IS NULL
        ORDER BY d.doc_id
    """).replace("WITH sh AS", "WITH RECURSIVE sh AS"),
)
def x_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete near-dup dedup pipeline, end to end: corpus ->
    candidate pairs (inverted index) -> connected components -> keep only
    each cluster's representative (min id) -> deduplicated corpus. The
    final step is one anti-join of the corpus against the non-
    representative member set — the only full-corpus shuffle-free pass."""
    labels = x_dedup_clusters(spark, sf_dir)
    drop_ids = labels.filter(F.col("doc_id") != F.col("cluster_rep")).select("doc_id")
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.join(drop_ids, "doc_id", "left_anti")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register("x_dedup_embedding", tags=("EXT", "X2", "X3", "F4", "F5"), oracle=None)
def x_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: documents vectorized as hashed
    bag-of-words (functions/vector.hashed_bow_frame — the driver's
    embeddings table is isotropic random noise with max pairwise cosine
    ~0.5, so text-derived vectors are the semantically meaningful
    instantiation; the explode-based frame form halves single-node cost
    vs the per-row HOF form, see its docstring for the trade-off),
    candidates from two independent random-hyperplane LSH tables
    (union -> higher recall), verified by exact cosine >= 0.9.

    Same scale shape as the other near-dup paths: bucketed candidate
    join with a hot-bucket cap, never all-pairs."""
    from ..functions.vector import cosine_similarity, hashed_bow_frame
    from .knn import _projection_planes, lsh_bucket

    docs = _t(spark, sf_dir, "documents")
    vecs = cached(
        hashed_bow_frame(docs, "doc_id", "text", 64).withColumnRenamed("id", "doc_id")
    )
    tables = []
    for seed in (7, 19):  # two independent LSH tables
        planes = _projection_planes(10, 64, seed)
        tables.append(
            vecs.select(
                "doc_id",
                (F.lit(seed) * 10_000_000 + lsh_bucket(F.col("vec"), planes)).alias("bucket"),
            )
        )
    buckets = tables[0].unionByName(tables[1])
    cand = candidate_pairs(buckets, ["bucket"], "doc_id", cap=MAX_BAND_FREQ)
    va = vecs.select(F.col("doc_id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = vecs.select(F.col("doc_id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(cosine_similarity(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("cosine") >= 0.9)
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    )


def _simhash_batches(batches):
    """64-bit SimHash per doc over Arrow batches: deterministic token
    hashes (md5 low 64 bits), per-bit majority vote vectorized in numpy."""
    import hashlib

    import numpy as np
    import pandas as pd

    def token_hash(tok: str) -> int:
        return int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "little")

    for pdf in batches:
        sigs = []
        for text in pdf["text"]:
            toks = set(text.split(" ")) if isinstance(text, str) else set()
            if not toks:
                sigs.append(0)
                continue
            hs = np.fromiter((token_hash(t) for t in toks), dtype=np.uint64)
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).sum(axis=0)
            votes = bits * 2 > len(hs)
            sig = np.uint64(0)
            for b in np.nonzero(votes)[0]:
                sig |= np.uint64(1) << np.uint64(b)
            sigs.append(int(sig.astype(np.int64)))  # reinterpret as signed for Spark LongType
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": sigs})


@register("x_dedup_simhash", tags=("EXT", "X2", "D1"), oracle=None)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit majority-vote signature (Arrow-batched
    numpy via mapInPandas — the sanctioned Python slow path), candidates
    from equality on any of four 16-bit chunks (a doc pair within Hamming
    distance 3 must agree on >= 1 chunk), verified by Hamming <= 3 using
    JVM-side bit_count(xor)."""
    docs = _t(spark, sf_dir, "documents")
    # Persisted: the chunk frame feeds the hot-chunk cap pass and both
    # candidate-join sides — without it the Arrow signature pass runs 3x.
    signed = cached(docs.select("doc_id", "text").mapInPandas(
        _simhash_batches, "doc_id bigint, simhash bigint"
    ))
    chunks = signed.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright("simhash", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_id", "ch.chunk")
    # Hot-chunk cap (same k^2 skew argument as the minhash band cap):
    # dropped chunks cost little recall — each remaining true near-dup
    # pair still has 3 other chunks to match on.
    chunks = freq_capped(chunks, ["chunk_id", "chunk"], MAX_CHUNK_FREQ)
    cand = (
        bucket_self_join(chunks, ["chunk_id", "chunk"], "doc_id")
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def _simhash_det_sql() -> str:
    """DuckDB oracle for x_dedup_simhash_det — the identical 64-bit
    token-set SimHash computed relationally: per-token md5 hex digits ->
    64 conditional ±1 vote sums -> per-16-bit chunk reassembly -> hot-
    chunk-capped candidate join -> Hamming <= 3 verify. Every value is
    an integer, so the whole pipeline hash-matches exactly."""
    # bit b lives in hex digit b//4 (1-based string index), position b%4.
    votes = ",\n              ".join(
        f"SUM(2 * (((strpos('0123456789abcdef', hx[{b // 4 + 1}]) - 1) >> {b % 4}) & 1) - 1)"
        f" AS v{b}"
        for b in range(64)
    )
    sig_chunks = ",\n              ".join(
        " + ".join(f"CASE WHEN v{16 * c + k} > 0 THEN {1 << k} ELSE 0 END" for k in range(16))
        + f" AS c{c}"
        for c in range(4)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> '')))
                       AS tok
            FROM documents
        ),
        h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
        votes AS (
            SELECT doc_id,
              {votes}
            FROM h GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id,
              {sig_chunks}
            FROM votes
        ),
        chunks AS (
            SELECT doc_id, c0, c1, c2, c3, x.chunk_id,
                   CASE x.chunk_id WHEN 0 THEN c0 WHEN 1 THEN c1
                                   WHEN 2 THEN c2 ELSE c3 END AS chunk
            FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS chunk_id) x
        ),
        ok_chunks AS (
            SELECT chunk_id, chunk FROM chunks
            GROUP BY chunk_id, chunk HAVING COUNT(*) <= {MAX_CHUNK_FREQ}
        ),
        cf AS (SELECT c.* FROM chunks c JOIN ok_chunks o USING (chunk_id, chunk)),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.c0 AS a0, a.c1 AS a1, a.c2 AS a2, a.c3 AS a3,
                   b.c0 AS b0, b.c1 AS b1, b.c2 AS b2, b.c3 AS b3
            FROM cf a JOIN cf b
              ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
                  + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
            + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) <= 3
        ORDER BY id_a, id_b
    """


@register("x_dedup_simhash_det", tags=("EXT", "X2"), oracle=_simhash_det_sql())
def x_dedup_simhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable SimHash near-dup — the fully value-hash-checked
    twin of x_dedup_simhash. The 64-bit signature is built from md5(tok)
    hex digits entirely in Catalyst expressions (no Python): each bit's
    majority vote is one conditional integer SUM, so map-side partial
    aggregation collapses the per-token explosion before the shuffle.
    Candidates come from equality on any of four 16-bit chunks (a pair
    within Hamming distance 3 must agree on >= 1 chunk), hot chunks past
    MAX_CHUNK_FREQ are dropped (k docs on one chunk value = k^2/2 pairs
    through one task), and verification is JVM-side bit_count(xor).
    Integer votes, integer chunks, integer Hamming -> exact DuckDB
    oracle, unlike the weighted/numpy variant.

    The hot-chunk cap uses freq_capped's WINDOW style deliberately
    (round-9 fix for a three-round bench creep, 2.73 -> 4.36 s): the
    semijoin style adds a count branch whose subplan lacks the
    isnotnull join-key filters the self-join sides carry, so no
    exchange is reusable and the 64-vote aggregation ran FOUR times
    (payload + cap branch, x both sides). The windowed count rides the
    same (chunk_id, chunk) exchange the join needs anyway, the two join
    sides become byte-identical subplans (AQE reuses them), and the
    vote aggregation count drops 4 -> 2 -> 1: quiet sf0.1 A/B medians
    4.00 s (semijoin) / 3.49 (persist) / 2.66 (window, below the 2.73
    v1 ratchet)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.filter(F.split("text", " "), lambda t: t != F.lit("")))
        ).alias("tok"),
    )
    # Parse the 16 hex digits into four 16-bit ints ONCE per token; the 64
    # per-bit votes are then single shift-and-mask extractions instead of
    # 64 conv(substring(..)) calls (which made the expression tree — and
    # the task binary — an order of magnitude heavier).
    hg = toks.select(
        "doc_id", F.md5("tok").alias("hx")
    ).select(
        "doc_id",
        *[
            F.conv(F.substring("hx", 4 * gi + 1, 4), 16, 10).cast("int").alias(f"g{gi}")
            for gi in range(4)
        ],
    )

    def bit(b: int):
        # bit b = bit (b%4) of hex digit (b//4); digit 4g+j sits at
        # position 4*(3-j) of the big-endian 4-digit group g.
        gi, j, k = b // 16, (b // 4) % 4, b % 4
        return F.shiftright(F.col(f"g{gi}"), 4 * (3 - j) + k).bitwiseAND(F.lit(1))

    votes = hg.groupBy("doc_id").agg(
        *[F.sum(bit(b) * 2 - 1).alias(f"v{b}") for b in range(64)]
    )

    def chunk(c: int):
        expr = F.lit(0)
        for k in range(16):
            expr = expr + F.when(F.col(f"v{16 * c + k}") > 0, F.lit(1 << k)).otherwise(0)
        return expr.cast("int")

    sig = votes.select("doc_id", *[chunk(c).alias(f"c{c}") for c in range(4)])
    # NOT persisted (unlike the Arrow variant): the signature is pure
    # codegen, and with the window-style cap below the two self-join
    # sides are identical subplans whose exchanges AQE reuses — a
    # persist here measured SLOWER in both the round-5 (~10%) and
    # round-9 (3.49 vs 2.66 s) A/Bs by blocking whole-stage pipelining.
    chunks = sig.select(
        "doc_id",
        "c0",
        "c1",
        "c2",
        "c3",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("chunk_id"), F.col(f"c{c}").alias("chunk"))
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "c0", "c1", "c2", "c3", "ch.chunk_id", "ch.chunk")
    cand = (
        bucket_self_join(
            freq_capped(chunks, ["chunk_id", "chunk"], MAX_CHUNK_FREQ, style="window"),
            ["chunk_id", "chunk"],
            "doc_id",
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            *[F.col(f"a.c{c}").alias(f"a{c}") for c in range(4)],
            *[F.col(f"b.c{c}").alias(f"b{c}") for c in range(4)],
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"b{c}"))) for c in range(4)
    ).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


EMB_DET_TABLES = 2  # deterministic embedding-LSH: OR-ed hyperplane tables
EMB_DET_BITS = 10  # bits per table -> 1024 buckets each
BOW_DIM = 64  # hashed bag-of-words dimensionality
EMB_DET_COSINE = 0.9  # verify threshold (matches x_dedup_embedding)


def _emb_det_planes() -> list[list[list[int]]]:
    """±1-entry hyperplanes from md5 parity of "e:t:b:d" — computed once
    in Python, embedded as identical integer literals in BOTH the Spark
    plan and the DuckDB oracle (the x_knn_lsh_det trick, knn.py:384)."""
    import hashlib

    return [
        [
            [
                1
                if int(hashlib.md5(f"e:{t}:{b}:{d}".encode()).hexdigest(), 16) % 2 == 0
                else -1
                for d in range(BOW_DIM)
            ]
            for b in range(EMB_DET_BITS)
        ]
        for t in range(EMB_DET_TABLES)
    ]


def _emb_det_oracle() -> str:
    planes_rows = ",\n                ".join(
        f"({t}, {b}, [{', '.join(str(v) for v in plane)}])"
        for t, table in enumerate(_emb_det_planes())
        for b, plane in enumerate(table)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        counts AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {BOW_DIM} AS b,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY doc_id, b
        ),
        norms AS (
            SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS n2 FROM counts GROUP BY doc_id
        ),
        planes AS (
            SELECT * FROM (VALUES
                {planes_rows}
            ) AS v(t, bit, plane)
        ),
        proj AS (
            SELECT c.doc_id, p.t, p.bit, CAST(SUM(c.c * p.plane[c.b + 1]) AS BIGINT) AS pr
            FROM counts c CROSS JOIN planes p
            GROUP BY c.doc_id, p.t, p.bit
        ),
        buckets AS (
            SELECT doc_id, t AS table_id,
                   CAST(SUM(CASE WHEN pr >= 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS bucket
            FROM proj GROUP BY doc_id, t
        ),
        ok AS (
            SELECT table_id, bucket FROM buckets
            GROUP BY table_id, bucket HAVING COUNT(*) <= {MAX_BAND_FREQ}
        ),
        bf AS (SELECT b.* FROM buckets b JOIN ok USING (table_id, bucket)),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bf a JOIN bf b
              ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        dots AS (
            SELECT c.id_a, c.id_b, CAST(SUM(ca.c * cb.c) AS BIGINT) AS dp
            FROM cand c
            JOIN counts ca ON ca.doc_id = c.id_a
            JOIN counts cb ON cb.doc_id = c.id_b AND cb.b = ca.b
            GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b, cosine FROM (
            SELECT d.id_a, d.id_b,
                   round(CAST(d.dp AS DOUBLE)
                         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                         6) AS cosine
            FROM dots d
            JOIN norms na ON na.doc_id = d.id_a
            JOIN norms nb ON nb.doc_id = d.id_b
        ) s
        WHERE cosine >= {EMB_DET_COSINE}
        ORDER BY id_a, id_b
    """


@register("x_dedup_embedding_det", tags=("EXT", "X2", "X3", "F4"), oracle=_emb_det_oracle())
def x_dedup_embedding_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable embedding-cosine near-dup — the fully
    value-hash-checked twin of x_dedup_embedding (VERDICT.md round-4 ask
    #4). Vectors are md5-hashed bag-of-words kept SPARSE as (doc_id,
    bucket, count) triples; hyperplanes are ±1 literals from md5 parity
    shared verbatim with the oracle; projections are therefore exact
    integer sums (count × ±1), so bucketing is integer-deterministic,
    and the final cosine is one double expression over exact bigint
    dot/norm sums — identical IEEE tree on both engines, round 6 AFTER
    filter-safe construction (filter compares the already-rounded value
    on both sides).

    Two OR-ed 10-bit tables (1024 buckets each) give LSH recall; hot
    buckets past MAX_BAND_FREQ are dropped (k ids on one bucket = k²/2
    pairs through one task); verification joins candidates back to the
    sparse counts on the bucket key — dot products of 64-dim vectors
    never materialize dense arrays, and document bodies never shuffle.

    100 TB design: every stage is a partial-aggregable groupBy or a
    frequency-capped equi-join on (table, bucket) / (pair, bucket) keys
    — ~linear candidate growth, no all-pairs, no Python. The dense-array
    x_dedup_embedding variant remains as the numpy/HOF exhibit; this is
    the shape a cluster would run."""
    docs = _docs(spark, sf_dir)
    counts = cached(
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .select(
            "doc_id",
            F.pmod(
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint"),
                F.lit(BOW_DIM),
            ).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    norms = counts.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("n2"))
    # All EMB_DET_TABLES*EMB_DET_BITS projections as aggregate expressions
    # over ONE doc-keyed groupBy: each plane is a 64-int literal array
    # indexed per count row (F.get, 0-based, Column index), so the plane
    # "join" costs nothing and the only exchange is the partial-aggregated
    # (doc_id) shuffle — a crossJoin-with-plane-rows variant measured 20x
    # the shuffled rows for the same result.
    planes_py = _emb_det_planes()
    proj_aggs = [
        F.sum(
            F.col("c")
            * F.get(F.array(*[F.lit(v) for v in planes_py[t][bit]]), F.col("b").cast("int"))
        )
        .cast("bigint")
        .alias(f"pr_{t}_{bit}")
        for t in range(EMB_DET_TABLES)
        for bit in range(EMB_DET_BITS)
    ]
    sig = counts.groupBy("doc_id").agg(*proj_aggs)

    def table_bucket(t: int):
        expr = F.lit(0)
        for bit in range(EMB_DET_BITS):
            expr = expr + F.when(F.col(f"pr_{t}_{bit}") >= 0, F.lit(1 << bit)).otherwise(0)
        return expr.cast("bigint")

    buckets = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table_id"), table_bucket(t).alias("bucket")
                    )
                    for t in range(EMB_DET_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("doc_id", "tb.table_id", "tb.bucket")
    cand = candidate_pairs(buckets, ["table_id", "bucket"], "doc_id", cap=MAX_BAND_FREQ)
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("b"), F.col("c").alias("c_a"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("b"), F.col("c").alias("c_b"))
    dots = (
        cand.join(ca, "id_a")
        .join(cb, ["id_b", "b"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("c_a") * F.col("c_b")).cast("bigint").alias("dp"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("n2_a"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("n2_b"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "cosine",
            F.round(
                F.col("dp").cast("double")
                / (F.sqrt(F.col("n2_a").cast("double")) * F.sqrt(F.col("n2_b").cast("double"))),
                6,
            ),
        )
        .filter(F.col("cosine") >= EMB_DET_COSINE)
        .select("id_a", "id_b", "cosine")
    )


N_MINHASH_MD5 = 8  # portable-minhash permutations (md5-based, oracle-checkable)
N_BANDS_MD5 = 4  # 2 rows/band -> catches Jaccard >~ 0.6 at this k


def md5_band_frame(shset: DataFrame) -> DataFrame:
    """(id, band_id, band_hash) LSH band rows from a shingle-set frame,
    using the engine-portable md5 minhash family: minhash_s(doc) =
    lexicographic min over shingles of md5('s:' || shingle), banded
    N_MINHASH_MD5 // N_BANDS_MD5 rows per band. Shared by the batch
    pipeline (x_dedup_minhash_md5), the incremental ingest path
    (x_dedup_incremental_band), and tools/scalecheck.py's index-growth
    experiment — in production this frame IS the persisted band index."""
    # Seed captured via enclosing scope, NOT a lambda default arg: pyspark
    # binds a 2-arg HOF lambda as (element, index), so `lambda g, s=s:`
    # would receive the array-index Column as s and stringify its repr
    # into the hash prefix — garbage that also varies with the session's
    # lambda-naming counter (caught when two plan constructions of this
    # frame produced different band hashes).
    def _mh(seed: int):
        prefix = f"{seed}:"
        return F.array_min(
            F.transform("sh", lambda g: F.md5(F.concat(F.lit(prefix), g)))
        )

    sig = shset.select(
        "id", F.array(*[_mh(s) for s in range(N_MINHASH_MD5)]).alias("sig")
    )
    rows_per_band = N_MINHASH_MD5 // N_BANDS_MD5
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(N_BANDS_MD5)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_id", "band.band_hash")


@register(
    "x_dedup_minhash_md5",
    tags=("EXT", "X2"),
    oracle=f"""
        WITH toks AS (SELECT doc_id AS id, string_split(text, ' ') AS t FROM documents),
        shset AS (
            SELECT id,
                   list_distinct([array_to_string(t[i:i+{SHINGLE_LEN - 1}], chr(31))
                                  for i in range(1, len(t) - {SHINGLE_LEN - 2})]) AS sh
            FROM toks WHERE len(t) >= {SHINGLE_LEN}
        ),
        sh AS (SELECT id, unnest(sh) AS g FROM shset),
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
            FROM bands_f a
            JOIN bands_f b ON a.band_id = b.band_id
                          AND a.band_hash = b.band_hash AND a.id < b.id
        ),
        ver AS (
            SELECT id_a, id_b,
                   len(list_filter(x.sh, g -> list_contains(y.sh, g))) AS n_inter,
                   len(x.sh) + len(y.sh)
                       - len(list_filter(x.sh, g -> list_contains(y.sh, g))) AS n_union
            FROM cand JOIN shset x ON x.id = cand.id_a
                      JOIN shset y ON y.id = cand.id_b
        )
        SELECT id_a, id_b, n_inter, n_union
        FROM ver WHERE n_inter * 5 >= n_union * 3
        ORDER BY id_a, id_b
    """,
)
def x_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup with an engine-portable hash family, making the
    full LSH pipeline value-hash-checkable against the DuckDB oracle (the
    xxhash64 variant x_dedup_minhash is rows-only because DuckDB lacks
    that hash). minhash_s(doc) = lexicographic min over shingles of
    md5('s:' || shingle) — hex strings compare identically everywhere.

    Same scale shape as x_dedup_minhash: banded buckets (candidates
    ~ linear, never all-pairs), hot buckets past MAX_BAND_FREQ dropped on
    BOTH sides (a k-doc bucket is k^2 pairs on one shuffle key), verify
    by exact shingle-Jaccard via integer cross-multiplication
    (5*|inter| >= 3*|union|, i.e. J >= 0.6) — no float compares.
    """
    docs = _docs(spark, sf_dir)
    shset = cached(shingle_frame(docs, "doc_id", "text"))
    bands = md5_band_frame(shset)
    cand = candidate_pairs(
        bands, ["band_id", "band_hash"], "id", cap=MAX_BAND_FREQ, cap_style="window"
    )
    ver = (
        cand.join(shset.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(shset.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            (
                F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))
            ).alias("n_union"),
        )
    )
    return (
        ver.filter(F.col("n_inter") * 5 >= F.col("n_union") * 3)
        .select("id_a", "id_b", "n_inter", "n_union")
        .orderBy("id_a", "id_b")
    )


@register(
    "x_dedup_incremental",
    tags=("EXT", "X1", "J4"),
    oracle="""
        WITH batch AS (
            SELECT doc_id, lang, md5(text) AS h FROM documents WHERE doc_id % 10 = 9
        ), idx AS (
            SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 9
        ), kept AS (
            SELECT b.doc_id, b.lang,
                   (i.h IS NOT NULL) AS is_dup
            FROM batch b LEFT JOIN idx i ON b.h = i.h
        )
        SELECT lang,
               COUNT(*) AS n_batch,
               CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
               CAST(MIN(CASE WHEN NOT is_dup THEN doc_id END) AS BIGINT) AS first_kept
        FROM kept GROUP BY lang ORDER BY lang
    """,
)
def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a NEW batch (doc_id % 10 = 9 stands in
    for today's arrivals) checked against the EXISTING corpus's
    fingerprint index — the production shape where each ingest joins
    only its own rows against a persisted digest index instead of
    re-deduplicating the whole corpus.

    The join is asymmetric: batch side is small, index side is digests
    only (16 bytes/row, never document bodies) — at 100 TB the index is
    a bucketed table on the digest and the per-ingest cost is
    O(batch), not O(corpus). Near-dup extends the same shape by joining
    the batch's LSH band keys (x_dedup_minhash_md5's signature stage)
    against a persisted band index."""
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9).select(
        "doc_id", "lang", F.md5("text").alias("h")
    )
    idx = (
        docs.filter(F.col("doc_id") % 10 != 9)
        .select(F.md5("text").alias("h"))
        .distinct()
        .withColumn("in_idx", F.lit(True))
    )
    kept = batch.join(idx, "h", "left").select(
        "doc_id", "lang", F.coalesce("in_idx", F.lit(False)).alias("is_dup")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("bigint").alias("n_dropped"),
            F.sum(F.when(F.col("is_dup"), 0).otherwise(1)).cast("bigint").alias("n_kept"),
            F.min(F.when(~F.col("is_dup"), F.col("doc_id"))).cast("bigint").alias("first_kept"),
        )
        .orderBy("lang")
    )


@register(
    "x_dedup_incremental_band",
    tags=("EXT", "X2", "J4"),
    oracle=f"""
        WITH toks AS (SELECT doc_id AS id, string_split(text, ' ') AS t FROM documents),
        shset AS (
            SELECT id,
                   list_distinct([array_to_string(t[i:i+{SHINGLE_LEN - 1}], chr(31))
                                  for i in range(1, len(t) - {SHINGLE_LEN - 2})]) AS sh
            FROM toks WHERE len(t) >= {SHINGLE_LEN}
        ),
        sh AS (SELECT id, unnest(sh) AS g FROM shset),
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
        idx AS (
            SELECT id, band_id, band_hash FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bsz
                FROM bands WHERE id % 10 <> 9
            ) WHERE bsz <= {MAX_BAND_FREQ}
        ),
        batch AS (SELECT id, band_id, band_hash FROM bands WHERE id % 10 = 9),
        cand AS (
            SELECT DISTINCT b.id AS batch_id, i.id AS index_id
            FROM batch b JOIN idx i
              ON b.band_id = i.band_id AND b.band_hash = i.band_hash
        ),
        ver AS (
            SELECT batch_id, index_id,
                   len(list_filter(x.sh, g -> list_contains(y.sh, g))) AS n_inter,
                   len(x.sh) + len(y.sh)
                       - len(list_filter(x.sh, g -> list_contains(y.sh, g))) AS n_union
            FROM cand JOIN shset x ON x.id = cand.batch_id
                      JOIN shset y ON y.id = cand.index_id
        )
        SELECT batch_id, index_id, n_inter, n_union
        FROM ver WHERE n_inter * 5 >= n_union * 3
        ORDER BY batch_id, index_id
    """,
)
def x_dedup_incremental_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup: today's batch (doc_id % 10 = 9) probed
    against the existing corpus's persisted LSH band index — the
    companion to x_dedup_incremental's exact-hash path and the shape a
    production pipeline actually runs: per ingest, only the batch is
    shingled/hashed and the join is asymmetric (batch bands x index
    bands), so cost is O(batch), never O(corpus). The band index here is
    derived in-plan from the corpus split; in deployment it is the
    materialized signature table that x_dedup_minhash_md5's stage
    produces. Engine-portable md5 hash family -> fully value-hash-checked
    (pairs + exact Jaccard counts), with the index-side hot-bucket cap
    mirrored in the oracle."""
    docs = _docs(spark, sf_dir)
    shset = cached(shingle_frame(docs, "doc_id", "text"))
    bands = md5_band_frame(shset)
    w = W.partitionBy("band_id", "band_hash")
    idx = (
        bands.filter(F.col("id") % 10 != 9)
        .withColumn("bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("bsz") <= MAX_BAND_FREQ)
        .drop("bsz")
    )
    batch = bands.filter(F.col("id") % 10 == 9)
    # Explicit broadcast of the (small-by-definition) ingest batch: without
    # it AQE flips to sort-merge once the index outgrows the broadcast
    # threshold and shuffles the WHOLE index per ingest. Measured in
    # tools/scalecheck.py --incremental (PLANS.md): 40 MB shuffled per
    # batch at 10x index growth without the hint, ~0.02 MB with it.
    cand = (
        F.broadcast(batch).alias("b")
        .join(
            idx.alias("i"),
            (F.col("b.band_id") == F.col("i.band_id"))
            & (F.col("b.band_hash") == F.col("i.band_hash")),
        )
        .select(F.col("b.id").alias("batch_id"), F.col("i.id").alias("index_id"))
        .distinct()
    )
    ver = (
        cand.join(shset.select(F.col("id").alias("batch_id"), F.col("sh").alias("sh_b")), "batch_id")
        .join(shset.select(F.col("id").alias("index_id"), F.col("sh").alias("sh_i")), "index_id")
        .select(
            "batch_id",
            "index_id",
            F.size(F.array_intersect("sh_b", "sh_i")).alias("n_inter"),
            (
                F.size("sh_b") + F.size("sh_i") - F.size(F.array_intersect("sh_b", "sh_i"))
            ).alias("n_union"),
        )
    )
    return (
        ver.filter(F.col("n_inter") * 5 >= F.col("n_union") * 3)
        .select("batch_id", "index_id", "n_inter", "n_union")
        .orderBy("batch_id", "index_id")
    )


K_SEMANTIC = 32  # semantic dedup: k-means cells (scale K ~ N/target_cell_size)
SEM_DUP_COS = 0.3  # within-cell cosine at/above which the higher vec_id drops


def _semantic_oracle() -> str:
    from .knn import KMEANS_ITERS, _cos_sql, _kmeans_ctes

    last = f"assign{KMEANS_ITERS}"
    ctes = _kmeans_ctes(K_SEMANTIC) + [
        f"sims AS (SELECT a.vec_id, MAX(round({_cos_sql('a.emb', 'b.emb')}, 6)) AS best"
        f" FROM {last} a JOIN {last} b"
        f" ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id"
        f" GROUP BY a.vec_id)"
    ]
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT m.vec_id, m.cluster_id, s.best AS best_lower_sim,
               COALESCE(s.best >= {SEM_DUP_COS}, FALSE) AS is_dup
        FROM {last} m LEFT JOIN sims s ON m.vec_id = s.vec_id
        ORDER BY m.vec_id
    """
    )


@register("x_semantic_dedup", tags=("EXT", "X2", "X3", "F4", "F5"), oracle=_semantic_oracle())
def x_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    k-means the embedding space into K_SEMANTIC cells, then compare pairs
    ONLY within a cell — a vector is a semantic duplicate iff some
    lower-id cell-mate sits at cosine >= SEM_DUP_COS. Per vector:
    (cluster_id, best similarity to a lower-id cell-mate, verdict).

    The within-cell pairwise step is the published algorithm, not a
    shortcut: its cost is sum over cells of |cell|^2, and K is chosen to
    scale with corpus size so |cell| stays ~constant — total work is
    linear in N with a bounded constant, vs the quadratic all-pairs this
    replaces. The k-means trainer is the shared broadcast-Lloyd's of
    x_cluster_kmeans (knn.py:_kmeans_fit, k parameterized).

    Fully oracle-checked end-to-end despite two stages of float math:
    training replays deterministically (decimal centroid means,
    sequential-fold distances, cluster-id tie-breaks) and the pairwise
    cosines round to 6dp before the MAX/threshold, so DuckDB unrolls
    train -> assign -> pairwise -> verdict and value-hashes every row.

    100 TB design: the cell join is an equi-join on cluster_id (skew
    bounded by the max cell size the trainer controls); centroids
    broadcast; nothing all-pairs. Reference parity: no vector surface in
    the reference (SURVEY.md §2.10 X2/X3 mandate)."""
    from .knn import _kmeans_fit

    _cents, assign = _kmeans_fit(spark, sf_dir, k=K_SEMANTIC)
    from ..functions.vector import cosine_similarity

    members = assign.select("vec_id", "cluster_id", "emb")
    sims = (
        members.alias("a")
        .join(
            members.alias("b"),
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.round(cosine_similarity(F.col("a.emb"), F.col("b.emb")), 6).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(F.max("cos").alias("best"))
    )
    return (
        members.select("vec_id", "cluster_id")
        .join(sims, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("best").alias("best_lower_sim"),
            F.coalesce(F.col("best") >= SEM_DUP_COS, F.lit(False)).alias("is_dup"),
        )
        .orderBy("vec_id")
    )


# x_dedup_recall lives in operators/dedup_eval.py (round-8 split).



@register(
    "x_dedup_clusters_star",
    tags=("EXT", "X1", "X2"),
    oracle=_ngram_pair_sql("""
        , edges AS (
            SELECT id_a AS a, id_b AS b FROM dup_pairs
            UNION ALL
            SELECT id_b, id_a FROM dup_pairs
        ),
        reach(node, label) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
        )
        SELECT node AS doc_id, MIN(label) AS cluster_rep FROM reach
        GROUP BY node ORDER BY doc_id
    """).replace("WITH sh AS", "WITH RECURSIVE sh AS"),
)
def x_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (the MapReduce-native formulation of Kiveris et al.,
    'Connected Components in MapReduce and Beyond', SoCC'14) — the
    scale-out twin of x_dedup_clusters' min-label propagation. Output
    is identical (same oracle, same hash): every doc in a near-dup pair
    labeled with its component's min id.

    Why both: label propagation converges in O(component diameter)
    rounds — ideal for the tiny clusters near-dup graphs actually have;
    the star algorithm converges in O(log n) rounds REGARDLESS of
    diameter, so a pathological duplicate chain (template boilerplate
    linking thousands of docs pairwise) cannot inflate the round count.
    Each round is two shuffles on the node key:
      large-star: every node's LARGER neighbors repoint to the min of
      its closed neighborhood; small-star: every node's smaller-or-equal
      neighbors repoint to the neighborhood min. Edges only ever move
    toward smaller labels, so the (count, sum) signature is monotone
    and serves as the `iterate` fixpoint witness."""
    pairs = x_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    labels, _rounds = star_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_rep")
    ).orderBy("doc_id")


def star_components(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Large-star/small-star connected components over an undirected
    pair set (id_a, id_b) with id_a < id_b: returns ((node, label) with
    label = component min id) and the round count, which is O(log n)
    regardless of component diameter. Shared by x_dedup_clusters_star
    and the round-count experiment in tests/test_pipeline.py."""
    spark = pairs.sparkSession
    # Persist the pair frame FIRST: it feeds the edge checkpoint, the
    # n_edges count and the all_nodes derivation — without this the
    # (expensive) upstream pair pipeline would execute three times
    # (code-review finding, round 4).
    pairs = cached(pairs)
    all_nodes = cached(
        pairs.select(F.col("id_a").alias("node"))
        .unionByName(pairs.select(F.col("id_b").alias("node")))
        .distinct()
    )
    # Size partitioning from the component graph (x_dedup_clusters note),
    # and scope the loop's SHUFFLE partitioning to it too: every round is
    # 4 shuffles over a frame of O(edges) rows, so running them at the
    # session's 32 shuffle partitions is pure scheduler overhead at this
    # graph size (measured 26 s -> ~8 s at sf0.001). Scoped by pinned_conf;
    # only the localCheckpoint()ed loop internals execute under the
    # override — the returned plan executes later under session conf
    # (the x_aqe_skew_join build-time-conf precedent).
    n_edges = pairs.count()
    nparts = max(1, (2 * n_edges) // 100_000)
    # Directed invariant: (u, v) with v < u ("points down"). id_a < id_b.
    edges0 = pairs.select(
        F.col("id_b").alias("u"), F.col("id_a").alias("v")
    ).repartition(nparts, "u")

    def star_round(edges: DataFrame) -> DataFrame:
        # Large-star: for each node, larger neighbors attach to the
        # min of the closed neighborhood.
        bidir = edges.select("u", "v").unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = bidir.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        ls = (
            bidir.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # Small-star: for each node, all (smaller) neighbors and the
        # node itself attach to the neighborhood min. Duplicate edges
        # from skipping distinct() are collapsed by the final
        # distinct() here — one dedup shuffle per round, not three.
        smins = ls.groupBy("u").agg(F.min("v").alias("m"))
        return (
            ls.join(smins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smins.select("u", F.col("m").alias("v")))
            .distinct()
        )

    signature = [F.count(F.lit(1)), F.sum("u"), F.sum("v")]
    with pinned_conf(spark, {"spark.sql.shuffle.partitions": str(nparts)}):
        edges, rounds = iterate(edges0, star_round, signature, None)
    # Converged: edges form stars node -> component-min. Roots (and any
    # node, defensively) take min over their outgoing labels; roots
    # appear only as targets and label themselves.
    starmap = edges.groupBy("u").agg(F.min("v").alias("label"))
    labels = all_nodes.join(starmap, all_nodes.node == starmap.u, "left").select(
        "node", F.coalesce("label", "node").alias("label")
    )
    return labels, rounds


@register(
    "x_dedup_containment",
    tags=("EXT", "X2", "J1"),
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, unnest(list_distinct(
                [array_to_string(string_split(text, ' ')[i:i+{SHINGLE_LEN - 1}], chr(31))
                 FOR i IN range(1, len(string_split(text, ' ')) - {SHINGLE_LEN - 2})]
            )) AS shingle
            FROM documents
        ),
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_FREQ}),
        filtered AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM filtered GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
            FROM filtered a JOIN filtered b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        dirn AS (
            SELECT CASE WHEN sa.n_sh < sb.n_sh OR (sa.n_sh = sb.n_sh AND id_a < id_b)
                        THEN id_a ELSE id_b END AS contained_id,
                   CASE WHEN sa.n_sh < sb.n_sh OR (sa.n_sh = sb.n_sh AND id_a < id_b)
                        THEN id_b ELSE id_a END AS container_id,
                   inter, CAST(LEAST(sa.n_sh, sb.n_sh) AS BIGINT) AS n_contained
            FROM pairs JOIN sizes sa ON sa.doc_id = id_a
                       JOIN sizes sb ON sb.doc_id = id_b
        )
        SELECT contained_id, container_id, inter, n_contained,
               round(CAST(inter AS DOUBLE) / n_contained, 6) AS containment
        FROM dirn WHERE inter * 5 >= n_contained * 4
        ORDER BY contained_id, container_id
    """,
)
def x_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection: pairs where the SMALLER
    document's rare-shingle set is >= 80% contained in the larger's
    (containment = |A∩B| / |A|) — the duplication class symmetric
    Jaccard structurally misses: a paragraph quoted inside a long
    article has tiny Jaccard (union is huge) but near-total
    containment, and a training pipeline usually wants the contained
    fragment deduplicated against its container. Broder's containment
    coefficient, computed on the same rare-shingle inverted index as
    x_dedup_ngram_jaccard; the 0.8 threshold is an integer
    cross-multiplication (5*inter >= 4*|A|), no float compare.

    100 TB design: identical candidate machinery to the Jaccard query
    (frequency-capped inverted index, ~linear candidates); only the
    verify arithmetic differs, so the two run off one shared index
    materialization in production. Direction (which side is
    'contained') is a deterministic function of the rare-shingle set
    sizes with an id tie-break."""
    docs = _docs(spark, sf_dir)
    filtered, sizes = rare_shingle_index(docs)
    return containment_from_stats(index_pair_stats(filtered, sizes))


# The exact-substring span family (x_substring_dedup, x_span_mask,
# substring_span_runs, mask_budget_from_runs) lives in
# operators/spans.py (round-8 split).


# x_lsh_curve / x_lsh_curve_empirical live in operators/dedup_eval.py.




@register(
    "x_normalize_dedup",
    tags=("EXT", "X1", "F3", "A1"),
    oracle="""
        WITH norm AS (
            SELECT doc_id, lang,
                   md5(text) AS raw_h,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_h
            FROM documents
        ),
        norm_g AS (
            SELECT lang, CAST(SUM(c - 1) AS BIGINT) AS n_dropped
            FROM (SELECT lang, norm_h, COUNT(*) AS c FROM norm
                  GROUP BY lang, norm_h HAVING COUNT(*) > 1) t
            GROUP BY lang
        ),
        raw_s AS (
            SELECT lang, CAST(SUM(c - 1) AS BIGINT) AS n_dropped
            FROM (SELECT lang, raw_h, COUNT(*) AS c FROM norm
                  GROUP BY lang, raw_h HAVING COUNT(*) > 1) t
            GROUP BY lang
        ),
        base AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM norm GROUP BY lang)
        SELECT b.lang, b.n_docs,
               COALESCE(r.n_dropped, 0) AS raw_dups,
               COALESCE(g.n_dropped, 0) AS norm_dups,
               COALESCE(g.n_dropped, 0) - COALESCE(r.n_dropped, 0) AS uncovered_by_raw
        FROM base b
        LEFT JOIN raw_s r ON r.lang = b.lang
        LEFT JOIN norm_g g ON g.lang = b.lang
        ORDER BY b.lang
    """,
)
def x_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization-aware dedup yield: per language, how many extra
    duplicate documents exact dedup finds AFTER text normalization
    (lowercase, strip non-alphanumerics, collapse/trim whitespace) vs
    on raw bytes — the measurement that decides whether a corpus needs
    a canonicalization pass before x_dedup_exact (casing/punctuation
    variants of boilerplate are invisible to byte-exact dedup but are
    pure duplicates for training purposes).

    Determinism: the normalization uses only character-class regexes
    ('[^a-z0-9 ]', ' +') whose semantics agree between Java regex and
    RE2; group counts are exact integers.

    100 TB design: both passes shuffle 16-byte md5 digests keyed by
    (lang, digest) with map-side partials — the normalization happens
    in the scan projection, bodies never move; identical shape to
    x_dedup_exact's digest-shuffle invariant.

    Reference parity: no text surface in the reference; SURVEY.md §2
    X1 exact-dedup family."""
    docs = _docs(spark, sf_dir)
    norm_h = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    n = docs.select("lang", F.md5("text").alias("raw_h"), norm_h.alias("norm_h"))

    def dup_count(col: str, out: str) -> DataFrame:
        return (
            n.groupBy("lang", col)
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .groupBy("lang")
            .agg(F.sum(F.col("c") - 1).cast("bigint").alias(out))
        )

    base = n.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        base.join(dup_count("raw_h", "raw_dups"), "lang", "left")
        .join(dup_count("norm_h", "norm_dups"), "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("raw_dups", F.lit(0)).cast("bigint").alias("raw_dups"),
            F.coalesce("norm_dups", F.lit(0)).cast("bigint").alias("norm_dups"),
            (F.coalesce("norm_dups", F.lit(0)) - F.coalesce("raw_dups", F.lit(0)))
            .cast("bigint")
            .alias("uncovered_by_raw"),
        )
        .orderBy("lang")
    )


# x_minhash_band_tuning lives in operators/dedup_eval.py (round-8 split).


# ---------------------------------------------------------------------------
# x_prefix_join — AllPairs/PPJoin-style LOSSLESS set-similarity self-join
# ---------------------------------------------------------------------------


@register(
    "x_prefix_join",
    tags=("EXT", "X2", "J3", "O3"),
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, unnest(list_distinct(
                [array_to_string(string_split(text, ' ')[i:i+{SHINGLE_LEN - 1}], chr(31))
                 FOR i IN range(1, len(string_split(text, ' ')) - {SHINGLE_LEN - 2})]
            )) AS shingle
            FROM documents
        ),
        dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        ranked AS (
            SELECT s.doc_id, s.shingle, z.n,
                   row_number() OVER (
                       PARTITION BY s.doc_id ORDER BY d.df, s.shingle
                   ) AS rk
            FROM sh s JOIN dfreq d USING (shingle) JOIN sizes z USING (doc_id)
        ),
        pfx AS (
            SELECT doc_id, shingle, n FROM ranked
            WHERE rk <= n - CAST(floor((n + 1) / 2.0) AS BIGINT) + 1
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                            a.n AS n_a, b.n AS n_b
            FROM pfx a JOIN pfx b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             AND 3 * LEAST(a.n, b.n) >= a.n + b.n
        ),
        pairs AS (
            SELECT c.id_a, c.id_b, MAX(c.n_a) AS n_a, MAX(c.n_b) AS n_b,
                   CAST(COUNT(*) AS BIGINT) AS inter
            FROM cand c
            JOIN sh x ON x.doc_id = c.id_a
            JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
            GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b, inter,
               round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard
        FROM pairs WHERE 3 * inter >= n_a + n_b
        ORDER BY id_a, id_b
    """,
)
def x_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS set-similarity self-join via prefix filtering (Bayardo
    et al. WWW'07 AllPairs; Xiao et al. WWW'08 PPJoin family): exact
    Jaccard >= 1/2 over distinct word-{SHINGLE_LEN}-gram sets with NO
    frequency cap and NO recall loss — the guaranteed-complete
    complement of the capped heuristic index (x_dedup_ngram_jaccard)
    and the probabilistic MinHash path. Shingles are globally ordered
    by (document frequency ASC, shingle); a doc's PREFIX is its first
    n − ceil(n/2) + 1 shingles in that order, and the theorem says two
    sets with Jaccard >= 1/2 MUST share a prefix shingle — so the
    candidate join only touches each doc's rarest shingles, which is
    what bounds the postings without dropping anything.

    All filters are integer-exact: prefix length via floor((n+1)/2),
    the size filter 3·min(|A|,|B|) >= |A|+|B| and the verify
    3·inter >= |A|+|B| are cross-multiplications (Jaccard >= 1/2
    rewritten without floats); the reported jaccard is one double
    division rounded at the end.

    100 TB design: same exchange inventory as the capped index — one
    shingle explode (persisted), two partial aggs (df, sizes), a
    doc-partitioned rank window, a shingle-keyed self-join that ships
    only PREFIX postings (rare by construction — df-ascending order is
    the cap, with a proof instead of a knob), and id-keyed verify joins
    on the candidate set. Where the capped index trades recall for a
    bound, this trades nothing and keeps the bound for any corpus whose
    near-dup mass is bounded; adversarial corpora add PPJoin's
    positional filter on the same plan."""
    docs = _t(spark, sf_dir, "documents")
    # feeds df counts, sizes, prefix build, and both verify sides
    sh = cached(docs.select("doc_id", F.explode(shingles(F.col("text"))).alias("shingle")))
    jac = F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        prefix_verify(sh, prefix_candidates(sh))
        .select("id_a", "id_b", "inter", F.round(jac, 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def prefix_candidates(sh: DataFrame) -> DataFrame:
    """(id_a, id_b, n_a, n_b): the doc pairs of the (doc_id, shingle)
    frame `sh` that share a prefix shingle (each doc's first n - ceil(n/2) + 1
    shingles by (document frequency, shingle)) and pass the size filter
    3·min(n_a, n_b) >= n_a + n_b — every pair with Jaccard >= 1/2."""
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (
        sh.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
            ),
        )
    )
    pfx = ranked.filter(
        F.col("rk") <= F.col("n") - F.floor((F.col("n") + 1) / 2) + 1
    ).select("doc_id", "shingle", "n")
    return (
        pfx.alias("a")
        .join(
            pfx.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (3 * F.least(F.col("a.n"), F.col("b.n")) >= F.col("a.n") + F.col("b.n")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .distinct()
    )


def prefix_verify(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """prefix_candidates' rows + inter, kept where 3·inter >= n_a + n_b
    (Jaccard >= 1/2)."""
    # verify sets re-aggregated from the PERSISTED index — not a second
    # scan+shingle pass over the text (the HOF tokenization is the
    # dominant map cost; collect_set over 5 cached columns is not)
    sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("sh"))
    pairs = (
        cand.join(sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint"))
    )
    return pairs.filter(3 * F.col("inter") >= F.col("n_a") + F.col("n_b"))
