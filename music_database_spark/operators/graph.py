"""Iterative graph analytics expressed as DataFrame joins.

The graph is derived from the TPC-H-ish tables: a weighted directed
nation-trade graph with an edge (customer nation -> supplier nation)
for every lineitem, weighted by the number of such trades. Building the
edge list is the scale-heavy part (fact-table join chain + groupBy);
the iterations themselves are small equi-joins against the current rank
vector.

Determinism: ranks are kept in integer billionths (BIGINT) and every
per-edge contribution is computed with integer multiply + integer
division — `(85 * pr * w) div (100 * outw)` — so partial-sum order
cannot perturb the result and the DuckDB oracle (same unrolled integer
iterations) hash-matches exactly. This is the same micro-unit recipe
as x_udaf_norm (plans/udf_surface.py).

Reference parity: the reference (shreyasb27/Music-Database,
music_db.sql:6-106 + Queries:1-57) has no graph surface; this extends
SURVEY.md §2's EXT rows alongside the label-propagation components in
operators/dedup.py (x_dedup_clusters).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..plans.relational import _t
from ..session import cached, checkpoint, release_checkpoint
from ..sources.loader import scan_wide

PR_UNIT = 1_000_000_000  # 1.0 in integer billionths
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping d = 0.85 as a ratio
PR_BASE = PR_UNIT * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN  # (1-d)*unit
PR_ITERS = 3  # iteration cap, unrolled identically in the oracle


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    witness: list[Column],
    max_rounds: int | None,
) -> tuple[DataFrame, int]:
    """Run `state = step(state)` to a fixpoint; return the last state and
    the number of rounds run. The one loop of the iterative family:

    * every state, the initial one included, is local-checkpointed
      lazily through session.checkpoint, so plan depth stays O(1) per
      round;
    * each round evaluates `witness` (aggregate Columns) in ONE
      `state.agg(*witness).collect()`, which also materializes the new
      checkpoint: no separate materialization job, and no witness for
      the initial state;
    * once that collect has materialized round k, round k-1's
      checkpoint is released, so a loop holds at most two: `step` must
      read only its argument and loop invariants, never an older state;
    * the loop stops at the first round whose witness tuple repeats the
      previous round's, or after `max_rounds` rounds (None: unbounded).
      An equal witness must imply an unchanged state (a monotone count
      or sum, or the state itself), so an early exit equals what an
      oracle unrolling `max_rounds` rounds computes.
    """
    state = checkpoint(state)
    last = None
    rounds = 0
    while max_rounds is None or rounds < max_rounds:
        prev, state = state, checkpoint(step(state))
        rounds += 1
        cur = tuple(state.agg(*witness).collect()[0])
        release_checkpoint(prev)
        if cur == last:
            break
        last = cur
    return state, rounds


@register(
    "x_pagerank",
    tags=("EXT", "J1", "J2", "A1", "A7"),
    oracle=f"""
        WITH e AS (
            SELECT c_nationkey AS src, s_nationkey AS dst,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey  = c_custkey
            JOIN supplier ON l_suppkey  = s_suppkey
            GROUP BY 1, 2
        ),
        ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM e GROUP BY src),
        nodes AS (
            SELECT DISTINCT n
            FROM (SELECT src AS n FROM e UNION ALL SELECT dst FROM e) u
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
        p0 AS (
            SELECT n, CAST({PR_UNIT} // n_nodes AS BIGINT) AS pr
            FROM nodes, nn
        ),
        c1 AS (
            SELECT e.dst AS n,
                   CAST(SUM(({PR_DAMP_NUM} * p.pr * e.w)
                            // ({PR_DAMP_DEN} * o.ow)) AS BIGINT) AS c
            FROM e JOIN p0 p ON p.n = e.src JOIN ow o ON o.src = e.src
            GROUP BY e.dst
        ),
        p1 AS (
            SELECT nodes.n, CAST({PR_BASE} + COALESCE(c, 0) AS BIGINT) AS pr
            FROM nodes LEFT JOIN c1 ON c1.n = nodes.n
        ),
        c2 AS (
            SELECT e.dst AS n,
                   CAST(SUM(({PR_DAMP_NUM} * p.pr * e.w)
                            // ({PR_DAMP_DEN} * o.ow)) AS BIGINT) AS c
            FROM e JOIN p1 p ON p.n = e.src JOIN ow o ON o.src = e.src
            GROUP BY e.dst
        ),
        p2 AS (
            SELECT nodes.n, CAST({PR_BASE} + COALESCE(c, 0) AS BIGINT) AS pr
            FROM nodes LEFT JOIN c2 ON c2.n = nodes.n
        ),
        c3 AS (
            SELECT e.dst AS n,
                   CAST(SUM(({PR_DAMP_NUM} * p.pr * e.w)
                            // ({PR_DAMP_DEN} * o.ow)) AS BIGINT) AS c
            FROM e JOIN p2 p ON p.n = e.src JOIN ow o ON o.src = e.src
            GROUP BY e.dst
        ),
        p3 AS (
            SELECT nodes.n, CAST({PR_BASE} + COALESCE(c, 0) AS BIGINT) AS pr
            FROM nodes LEFT JOIN c3 ON c3.n = nodes.n
        )
        SELECT p3.n AS nationkey, n_name AS nation, p3.pr AS pr_unit
        FROM p3 JOIN nation ON n_nationkey = p3.n
        ORDER BY pr_unit DESC, nationkey
    """,
)
def x_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (at most PR_ITERS iterations, damping 0.85) over
    the nation trade graph: an edge (customer nation -> supplier nation)
    per lineitem, weighted by trade count. Integer-billionth rank units
    and integer contribution arithmetic make every iteration exact, so
    the unrolled-CTE DuckDB oracle hash-matches bit for bit.

    100 TB design: the expensive stage is the edge build — the full
    lineitem⋈orders⋈customer⋈supplier chain with map-side partial
    aggregation collapsing ~billions of trades into a |V|^2-bounded edge
    list BEFORE any iteration runs. Each iteration is then an equi-join
    of the edge list against the 25-row rank vector (broadcast) plus a
    groupBy dst — no shuffle grows with iteration count, and a general
    graph would co-partition edges and ranks on src so iterations reuse
    one partitioning (the standard Pregel-on-relational layout). The
    iterations run through `iterate` with the exact rank vector as the
    witness, so a repeated vector is a true fixpoint and stopping there
    equals the oracle's PR_ITERS unrolled rounds.
    """
    li = scan_wide(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    # Materialized once: outw and nodes re-read the edge list, not the
    # fact-table join chain that produced it. At 100 TB this is the
    # write-the-edge-list-to-parquet step.
    edges = cached(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("ow"))
    # Loop invariants, checkpointed once (round 1 materializes them): a
    # round reads them instead of re-running the outw groupBy and the
    # union-distinct shuffle.
    e2 = checkpoint(edges.join(outw, "src"))
    nodes = checkpoint(
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    pr0 = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "n", F.expr(f"CAST({PR_UNIT} div n_nodes AS BIGINT)").alias("pr")
    )
    contrib_expr = (
        f"CAST(SUM(({PR_DAMP_NUM} * pr * w) div ({PR_DAMP_DEN} * ow)) AS BIGINT)"
    )

    def pr_round(pr: DataFrame) -> DataFrame:
        contrib = (
            e2.join(F.broadcast(pr), e2.src == pr.n)
            .groupBy("dst")
            .agg(F.expr(contrib_expr).alias("c"))
        )
        return nodes.join(contrib, nodes.n == contrib.dst, "left").select(
            "n",
            (F.lit(PR_BASE) + F.coalesce(F.col("c"), F.lit(0)))
            .cast("bigint")
            .alias("pr"),
        )

    pr, _ = iterate(
        pr0, pr_round, [F.sort_array(F.collect_list(F.struct("n", "pr")))], PR_ITERS
    )
    return (
        pr.join(F.broadcast(nation), pr.n == nation.n_nationkey)
        .select(
            F.col("n").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.col("pr").alias("pr_unit"),
        )
        .orderBy(F.desc("pr_unit"), "nationkey")
    )


@register(
    "x_triangle_count",
    tags=("EXT", "J1", "J6", "A1"),
    oracle="""
        WITH np AS MATERIALIZED (
            -- MATERIALIZED: without the barrier DuckDB's optimizer
            -- treats the <> below as a customer-supplier join predicate
            -- and nested-loops the two dims FIRST (576M-row
            -- intermediate at 2x sf0.1, ~80 GB of temp spill — found by
            -- the round-9 variantcheck sweep); the barrier pins the
            -- selective key joins ahead of the inequality filter.
            SELECT c_nationkey, s_nationkey
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey  = c_custkey
            JOIN supplier ON l_suppkey  = s_suppkey
        ),
        e AS (
            SELECT DISTINCT LEAST(c_nationkey, s_nationkey) AS a,
                   GREATEST(c_nationkey, s_nationkey) AS b
            FROM np
            WHERE c_nationkey <> s_nationkey
        ),
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1 JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        per_node AS (
            SELECT n, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
                  UNION ALL SELECT z FROM tri) u
            GROUP BY n
        )
        SELECT p.n AS nationkey, n_name AS nation, p.n_triangles
        FROM per_node p JOIN nation ON n_nationkey = p.n
        ORDER BY n_triangles DESC, nationkey
    """,
)
def x_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting (the clustering-coefficient numerator)
    on the undirected nation trade graph. Uses the canonical
    ordered-edge enumeration — every undirected edge is stored once as
    (a < b), and a triangle {x<y<z} is found exactly once by joining
    e1=(x,y), e2=(y,z), e3=(x,z) — so no triangle is double-counted and
    no orientation heuristic is needed. Integer counts; fully
    oracle-checked.

    100 TB design: edge canonicalization (LEAST/GREATEST + DISTINCT) is
    a map + one dedup shuffle; the two triangle joins are equi-joins on
    single node keys, the textbook distributed triangle enumeration.
    For skewed degree distributions production adds the degree-ordering
    refinement (orient edges low-degree -> high-degree so hub nodes
    never appear as join build keys); the 25-node nation graph needs no
    such refinement but the join shape is identical. Reference parity:
    no graph surface in the reference (SURVEY.md §2 EXT mandate).
    """
    li = scan_wide(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    edges = cached(  # one dedup shuffle; reused three times by the joins
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    per_node = (
        tri.select(F.col("x").alias("n"))
        .unionAll(tri.select(F.col("y").alias("n")))
        .unionAll(tri.select(F.col("z").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        per_node.join(F.broadcast(nation), per_node.n == nation.n_nationkey)
        .select(
            F.col("n").alias("nationkey"),
            F.col("n_name").alias("nation"),
            "n_triangles",
        )
        .orderBy(F.desc("n_triangles"), "nationkey")
    )


@register(
    "x_clustering_coef",
    tags=("EXT", "J1", "J6", "A1", "A5"),
    oracle="""
        WITH np AS MATERIALIZED (
            -- MATERIALIZED join-order barrier — same DuckDB optimizer
            -- trap as x_triangle_count's oracle (see note there).
            SELECT c_nationkey, s_nationkey
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey  = c_custkey
            JOIN supplier ON l_suppkey  = s_suppkey
        ),
        e AS (
            SELECT DISTINCT LEAST(c_nationkey, s_nationkey) AS a,
                   GREATEST(c_nationkey, s_nationkey) AS b
            FROM np
            WHERE c_nationkey <> s_nationkey
        ),
        deg AS (
            SELECT n, CAST(COUNT(*) AS BIGINT) AS degree
            FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) u
            GROUP BY n
        ),
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1 JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        per_node AS (
            SELECT n, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
                  UNION ALL SELECT z FROM tri) u
            GROUP BY n
        )
        SELECT d.n AS nationkey, n_name AS nation, d.degree,
               COALESCE(t.n_triangles, 0) AS n_triangles,
               round(CASE WHEN d.degree < 2 THEN 0.0
                          ELSE 2.0 * COALESCE(t.n_triangles, 0)
                               / (d.degree * (d.degree - 1)) END, 6) AS coef
        FROM deg d LEFT JOIN per_node t ON t.n = d.n
        JOIN nation ON n_nationkey = d.n
        ORDER BY coef DESC, nationkey
    """,
)
def x_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — coef = 2T/(d(d-1)) over
    the undirected nation trade graph, composing x_triangle_count's
    canonical triangle enumeration with a per-node degree count. The
    graph-cohesion metric that distinguishes hub-and-spoke structure
    (low coef) from clique-like neighborhoods (coef near 1) — on a
    near-dup document graph the same query scores how 'cliquey' each
    duplicate neighborhood is, which drives keep-one vs keep-cluster
    dedup decisions. Integer degree/triangle inputs make the ratio
    arithmetic bit-identical cross-engine.

    100 TB design: adds one partial-aggregable degree count to the
    triangle plan (edge list materialized once, reused by degrees and
    all three triangle join branches); the division is a map over the
    25-row joined result. Same skew note as x_triangle_count (degree
    ordering for hub graphs)."""
    li = scan_wide(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    edges = cached(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
    )
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionAll(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    per_node = (
        tri.select(F.col("x").alias("n"))
        .unionAll(tri.select(F.col("y").alias("n")))
        .unionAll(tri.select(F.col("z").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0))
    coef = F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
        2.0 * t / (F.col("degree") * (F.col("degree") - 1))
    )
    return (
        deg.join(per_node, "n", "left")
        .join(F.broadcast(nation), deg.n == nation.n_nationkey)
        .select(
            F.col("n").alias("nationkey"),
            F.col("n_name").alias("nation"),
            "degree",
            t.cast("bigint").alias("n_triangles"),
            F.round(coef, 6).alias("coef"),
        )
        .orderBy(F.desc("coef"), "nationkey")
    )


KCORE_K = 8  # degeneracy threshold: survive with >= K distinct partners
KCORE_ROUNDS = 16  # bounded peel rounds (fixpoint reached earlier in practice)


def _kcore_oracle() -> str:
    """Unrolled k-core peeling: round i keeps nodes whose degree within
    round i-1's surviving subgraph is >= K; KCORE_ROUNDS chained CTE
    rounds make the iterative algorithm SQL-expressible (peeling is
    monotone, so once a fixpoint is reached every further round is a
    no-op — the Spark side's early exit at fixpoint computes the same
    bounded-round semantics)."""
    # AS MATERIALIZED is load-bearing: each u_i references u_{i-1} three
    # times (directly + via a_i twice), so inlined CTEs would expand to
    # 3^ROUNDS parquet scans — materialization keeps the chain linear
    # (the oracle-side analog of the Spark loop's localCheckpoint).
    parts = [
        f"""WITH e0 AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        u0 AS MATERIALIZED (SELECT u AS n, v AS m FROM e0 UNION ALL SELECT v AS n, u AS m FROM e0)"""
    ]
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"""a{i} AS MATERIALIZED (SELECT n FROM u{i - 1} GROUP BY n HAVING COUNT(*) >= {KCORE_K}),
        u{i} AS MATERIALIZED (SELECT x.n, x.m FROM u{i - 1} x
                 JOIN a{i} p ON x.n = p.n JOIN a{i} q ON x.m = q.n)"""
        )
    r = KCORE_ROUNDS
    return (
        ",\n        ".join(parts)
        + f"""
        SELECT CASE WHEN n % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
               CAST(n // 2 AS BIGINT) AS key,
               CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM u{r}
        GROUP BY node_type, key
        ORDER BY node_type, key
    """
    )


def kcore_peel(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """x_kcore's peel loop: the KCORE_K-core of the customer-supplier
    graph as undirected (n, m) edges, and the rounds run (an unchanged
    edge count is the fixpoint: peeling is monotone)."""
    li = scan_wide(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    und = e0.select(F.col("u").alias("n"), F.col("v").alias("m")).unionAll(
        e0.select(F.col("v").alias("n"), F.col("u").alias("m"))
    )

    def peel(und: DataFrame) -> DataFrame:
        alive = (
            und.groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select("n")
        )
        return (
            und.join(alive, "n")
            .join(alive.withColumnRenamed("n", "m"), "m")
            .select("n", "m")
        )

    return iterate(und, peel, [F.count(F.lit(1))], KCORE_ROUNDS)


@register("x_kcore", tags=("EXT", "X2", "J1", "A1"), oracle=_kcore_oracle())
def x_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (iterative degeneracy peeling) of the
    bipartite customer-supplier interaction graph: repeatedly delete
    nodes with fewer than K distinct partners until no such node
    remains; the surviving {KCORE_K}-core is the densely-interacting
    market core (on a near-dup similarity graph the same peel isolates
    pathological duplicate blobs worth bulk-dropping — the graph-side
    complement of the components queries). Output: each core member
    with its within-core degree.

    Iterative-until-fixpoint on Spark (`kcore_peel`: early exit when
    the edge count stops changing), bounded by the same KCORE_ROUNDS
    the DuckDB oracle unrolls as chained CTEs, making a genuinely
    iterative algorithm value-hash-checkable.

    100 TB design: each round is one partial-aggregable degree count +
    two node-keyed semi-joins (digest-sized rows: two bigints per
    edge), checkpointed per round by `iterate`; rounds needed in
    practice ~ a few (peeling cascades die out fast on heavy-tailed
    degree distributions). Reference parity: no graph surface in the
    reference (SURVEY.md §2 EXT mandate)."""
    und, _rounds = kcore_peel(spark, sf_dir)
    return (
        und.groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .select(
            F.when(F.col("n") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.floor(F.col("n") / 2).cast("bigint").alias("key"),
            "core_degree",
        )
        .orderBy("node_type", "key")
    )


BFS_SRC_CUST = 1  # BFS source: customer key 1 (node id 2)
BFS_ROUNDS = 8  # bounded expansion rounds (bipartite diameter is tiny)


def _bfs_oracle() -> str:
    """Unrolled BFS: frontier_i = neighbors(frontier_{i-1}) minus
    visited; MATERIALIZED per round for the same 3^rounds-inlining
    reason as the k-core oracle."""
    parts = [
        f"""WITH e0 AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        und AS MATERIALIZED (SELECT u AS n, v AS m FROM e0 UNION ALL SELECT v AS n, u AS m FROM e0),
        f0 AS MATERIALIZED (SELECT CAST({BFS_SRC_CUST * 2} AS BIGINT) AS n),
        v0 AS MATERIALIZED (SELECT n FROM f0)"""
    ]
    for i in range(1, BFS_ROUNDS + 1):
        parts.append(
            f"""f{i} AS MATERIALIZED (
            SELECT DISTINCT und.m AS n FROM und JOIN f{i - 1} ON und.n = f{i - 1}.n
            WHERE und.m NOT IN (SELECT n FROM v{i - 1})
        ),
        v{i} AS MATERIALIZED (SELECT n FROM v{i - 1} UNION SELECT n FROM f{i})"""
        )
    levels = " UNION ALL ".join(
        f"SELECT n, {i} AS dist FROM f{i}" for i in range(BFS_ROUNDS + 1)
    )
    return (
        ",\n        ".join(parts)
        + f"""
        SELECT CASE WHEN n % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
               CAST(n // 2 AS BIGINT) AS key,
               CAST(dist AS INTEGER) AS dist
        FROM ({levels}) lv
        ORDER BY dist, node_type, key
    """
    )


def bfs_levels(
    edges: DataFrame, src: int, rounds: int, symmetric: bool = False
) -> DataFrame:
    """Bounded BFS levels over a directed (src, dst) edge frame from one
    source node; returns (n, dist) for every reached node. Shared by
    x_bfs and the random-graph property test (the sssp_rounds pattern).

    The edge frame is aggregated ONCE into a node-keyed adjacency layout
    (src -> set of dst, the Pregel/AggregateMessages shape), so each
    expansion round probes |V| adjacency rows against a broadcast
    frontier instead of rescanning all |E| edge rows; the groupBy also
    dedups parallel edges. That count is also the first action over the
    lazily checkpointed adjacency, materializing its blocks in the same
    job. When the caller declares the edge frame SYMMETRIC (every edge
    present in both directions, so every reachable node has an adjacency
    row), the adjacency row count doubles as a saturation witness: once
    the visited count reaches it, the next frontier is provably empty
    and the loop stops WITHOUT paying a full expansion round just to
    observe emptiness. The witness is UNSOUND for general directed
    graphs — visited sink nodes (no out-edges) would count toward a
    threshold that only counts out-edge nodes — so it is gated on
    `symmetric`; the empty-frontier exit below is always the correctness
    backstop. Per round: adjacency ⋈ broadcast(frontier) -> explode ->
    broadcast anti-join vs visited (seen neighbors drop map-side) ->
    distinct over just the unseen expansion, lazily checkpointed so the
    fixpoint count is the materializing job."""
    spark_ = edges.sparkSession
    adj = checkpoint(
        edges.groupBy(F.col("src").alias("n")).agg(F.collect_set("dst").alias("ms"))
    )
    n_nodes = adj.count() if symmetric else None
    frontier = checkpoint(spark_.createDataFrame([(src,)], "n long"), eager=True)
    visited = frontier
    n_visited = 1
    levels = [frontier.select("n", F.lit(0).alias("dist"))]
    for i in range(1, rounds + 1):
        frontier = checkpoint(
            adj.join(
                F.broadcast(frontier.withColumnRenamed("n", "fn")),
                F.col("n") == F.col("fn"),
            )
            .select(F.explode("ms").alias("n"))
            .join(F.broadcast(visited), "n", "left_anti")
            .distinct()
        )
        cnt = frontier.count()
        if cnt == 0:
            break
        # visited needs no checkpoint of its own: it is a union of
        # already-checkpointed frontiers, so its lineage is O(rounds)
        # deep and each branch is materialized
        visited = visited.unionAll(frontier)
        levels.append(frontier.select("n", F.lit(i).alias("dist")))
        n_visited += cnt
        if n_nodes is not None and n_visited >= n_nodes:
            break  # saturated (symmetric graph): next frontier must be empty
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionAll(lv)
    return out


@register("x_bfs", tags=("EXT", "J1", "A1", "X2"), oracle=_bfs_oracle())
def x_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search levels (single-source shortest hop counts)
    over the bipartite customer-supplier graph from one customer — the
    reachability/traversal primitive (on a duplicate-similarity graph,
    'every doc within d hops of a seed' is the contamination-spread
    query). Frontier-expansion rounds with early exit on an empty
    frontier; the oracle unrolls the same bounded rounds as
    MATERIALIZED CTEs (the x_kcore recipe), so a genuinely iterative
    traversal is value-hash-checked.

    100 TB design (reworked round 6, verdict ask #8 — 4.9 s -> ~3.0 s at
    sf0.1): the edge list is aggregated ONCE into a node-keyed adjacency
    layout (n -> set of neighbors, the Pregel/AggregateMessages shape),
    so each expansion round probes |V| adjacency rows against a
    broadcast frontier instead of rescanning all |E| edge rows; the
    groupBy also dedups parallel edges, replacing the old pre-distinct
    shuffle. Per round: adjacency ⋈ broadcast(frontier) -> explode ->
    broadcast anti-join vs visited (already-seen neighbors drop
    map-side) -> distinct over just the unseen expansion; the lazy
    localCheckpoint + count folds materialization and the emptiness
    check into one job. Hub nodes with adjacency sets beyond array
    bounds split into bounded chunks (salt the groupBy key) with
    identical semantics — the expansion distinct merges them; the
    frontier/visited broadcasts hold while those sets are node-set
    sized (|V| ids ≪ |E|), else they swap for co-partitioned shuffle
    joins. Distance-bounded traversals terminate in O(diameter) rounds
    (~4 on bipartite interaction graphs)."""
    li = scan_wide(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        (F.col("o_custkey") * 2).alias("u"),
        (F.col("l_suppkey") * 2 + 1).alias("v"),
    )
    und = e0.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e0.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    out = bfs_levels(und, BFS_SRC_CUST * 2, BFS_ROUNDS, symmetric=True)
    return out.select(
        F.when(F.col("n") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.floor(F.col("n") / 2).cast("bigint").alias("key"),
        F.col("dist").cast("int").alias("dist"),
    ).orderBy("dist", "node_type", "key")


SSSP_SRC = 0  # source nation key
SSSP_ROUNDS = 6  # bounded Bellman-Ford rounds, unrolled identically in the oracle
SSSP_COST_NUM = 1_000_000  # edge cost = 1 + NUM // trade_count (inverse intensity)


def _sssp_oracle() -> str:
    """Unrolled Bellman-Ford: d_i = per-node MIN over (d_{i-1} UNION
    relax(d_{i-1})); MATERIALIZED per round for the same
    3^rounds-inlining reason as the k-core oracle."""
    parts = [
        f"""WITH e AS MATERIALIZED (
            SELECT c_nationkey AS src, s_nationkey AS dst,
                   CAST(1 + {SSSP_COST_NUM} // COUNT(*) AS BIGINT) AS w
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey  = c_custkey
            JOIN supplier ON l_suppkey  = s_suppkey
            GROUP BY 1, 2
        ),
        d0 AS MATERIALIZED (SELECT CAST({SSSP_SRC} AS BIGINT) AS n, CAST(0 AS BIGINT) AS d)"""
    ]
    for i in range(1, SSSP_ROUNDS + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
            SELECT n, CAST(MIN(d) AS BIGINT) AS d FROM (
                SELECT n, d FROM d{i - 1}
                UNION ALL
                SELECT e.dst AS n, p.d + e.w AS d
                FROM e JOIN d{i - 1} p ON e.src = p.n
            ) u GROUP BY n
        )"""
        )
    r = SSSP_ROUNDS
    return (
        ",\n        ".join(parts)
        + f"""
        SELECT d{r}.n AS nationkey, n_name AS nation, d{r}.d AS dist_cost
        FROM d{r} JOIN nation ON n_nationkey = d{r}.n
        ORDER BY dist_cost, nationkey
    """
    )


def sssp_rounds(edges: DataFrame, src: int, rounds: int) -> DataFrame:
    """Bounded Bellman-Ford over a (src, dst, w) edge frame: per round,
    relax every edge out of the current distance vector and take the
    per-node MIN, through `iterate` with the (count, sum-of-dists) pair
    as the witness (nodes only get added and dists only shrink, so an
    unchanged pair is a sound fixpoint witness). Shared by
    x_sssp_weighted and the random-graph property test."""

    def relax(dist: DataFrame) -> DataFrame:
        relaxed = edges.join(dist.withColumnRenamed("n", "src"), "src").select(
            F.col("dst").alias("n"), (F.col("d") + F.col("w")).alias("d")
        )
        return (
            dist.unionAll(relaxed)
            .groupBy("n")
            .agg(F.min("d").cast("bigint").alias("d"))
        )

    dist0 = edges.sparkSession.createDataFrame([(src, 0)], "n long, d long")
    dist, _rounds = iterate(dist0, relax, [F.count(F.lit(1)), F.sum("d")], rounds)
    return dist


@register("x_sssp_weighted", tags=("EXT", "J1", "A4", "A7"), oracle=_sssp_oracle())
def x_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford relaxation
    rounds) over the directed nation trade graph — x_bfs's weighted
    sibling: edge cost 1 + {SSSP_COST_NUM}//trade_count makes heavily
    trading nation pairs 'close', so the distances rank market
    reachability from the source nation. Integer costs keep every
    relaxation exact; the oracle unrolls the same SSSP_ROUNDS rounds as
    MATERIALIZED CTEs (the x_kcore recipe), hash-checking a genuinely
    iterative algorithm. Spark early-exits at fixpoint: the (count,
    sum-of-dists) pair is monotone (nodes only get added, dists only
    shrink), so an unchanged pair IS convergence — every further
    unrolled round is a no-op, keeping both engines' bounded-round
    semantics identical.

    100 TB design: the expensive stage is the one-off edge build
    (fact-chain join + partial agg, persisted); each round is then an
    equi-join of the edge list against the frontier distance vector +
    a per-node MIN groupBy — digest-sized rows only, checkpointed per
    round by `iterate` (see `sssp_rounds`). On a
    general billion-node graph, edges and distances co-partition on
    src so every round reuses one partitioning (Pregel-on-relational);
    round count is bounded by the weighted diameter in hops.

    Reference parity: no graph surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT graph family."""
    li = scan_wide(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = checkpoint(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(
            (F.lit(1) + F.expr(f"CAST({SSSP_COST_NUM} div count(*) AS BIGINT)"))
            .cast("bigint")
            .alias("w")
        ),
        eager=True,
    )
    dist = sssp_rounds(edges, SSSP_SRC, SSSP_ROUNDS)
    return (
        dist.join(F.broadcast(nation), dist.n == nation.n_nationkey)
        .select(
            F.col("n").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.col("d").alias("dist_cost"),
        )
        .orderBy("dist_cost", "nationkey")
    )


@register(
    "x_modularity",
    tags=("EXT", "J1", "A7", "F4"),
    oracle="""
        WITH e AS (
            SELECT c_nationkey AS src, s_nationkey AS dst,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey  = c_custkey
            JOIN supplier ON l_suppkey  = s_suppkey
            GROUP BY 1, 2
        ),
        er AS (
            SELECT ns.n_regionkey AS rsrc, nd.n_regionkey AS rdst, e.src, e.dst, e.w
            FROM e
            JOIN nation ns ON ns.n_nationkey = e.src
            JOIN nation nd ON nd.n_nationkey = e.dst
        ),
        m AS (SELECT CAST(2 * SUM(w) AS BIGINT) AS m2 FROM er),
        deg AS (
            SELECT n, CAST(SUM(w) AS BIGINT) AS k FROM (
                SELECT src AS n, w FROM er
                UNION ALL
                SELECT dst AS n, w FROM er
            ) u GROUP BY n
        ),
        dreg AS (
            SELECT nation.n_regionkey AS rk, CAST(SUM(k) AS BIGINT) AS d_c
            FROM deg JOIN nation ON n_nationkey = deg.n GROUP BY 1
        ),
        ereg AS (
            SELECT rsrc AS rk, CAST(2 * SUM(w) AS BIGINT) AS e_c
            FROM er WHERE rsrc = rdst GROUP BY rsrc
        ),
        q AS (
            SELECT r_name AS region,
                   COALESCE(e_c, 0) AS internal_w, d_c AS degree_w,
                   CAST(CAST(COALESCE(e_c, 0) AS HUGEINT) * m2
                        - CAST(d_c AS HUGEINT) * d_c AS DOUBLE)
                   / CAST(CAST(m2 AS HUGEINT) * m2 AS DOUBLE) AS qc
            FROM dreg
            LEFT JOIN ereg ON ereg.rk = dreg.rk
            JOIN region ON r_regionkey = dreg.rk
            CROSS JOIN m
        )
        SELECT region, internal_w, degree_w,
               round(qc, 6) AS q_contrib,
               round(CAST(SUM(qc) OVER (ORDER BY region
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE), 6) AS q_cum
        FROM q ORDER BY region
    """,
)
def x_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity (Newman & Girvan 2004) of the REGION partition of the
    undirected weighted nation trade graph — "is intra-region trade
    denser than a degree-preserving random rewiring predicts?": per
    community Q_c = e_c/2m − (d_c/2m)², emitted per region with the
    running total (the last row's q_cum IS the partition's modularity).
    The graph-quality metric that scores any clustering the engine
    produces (components, label-prop, k-core) — here scored against
    the natural geographic communities.

    Determinism: Q_c is the exact rational (e_c·2m − d_c²)/(2m)² —
    numerator and denominator as 128-bit integer products (Spark
    DECIMAL(38,0) / DuckDB HUGEINT), ONE double division per region,
    and the total folded as a CUMULATIVE window sum in region order
    (the x_ndcg recipe), so the statistic hash-matches.

    100 TB design: the only scale-bound stage is the fact-chain edge
    build shared with x_pagerank/x_sssp_weighted (partial-aggregated
    to a |V|²-bounded edge list); everything after is O(|V| + |C|)
    joins over broadcast-sized frames.

    Reference parity: no graph surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT graph family."""
    li = scan_wide(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    ns = nation.select(F.col("n_nationkey").alias("src"), F.col("n_regionkey").alias("rsrc"))
    nd = nation.select(F.col("n_nationkey").alias("dst"), F.col("n_regionkey").alias("rdst"))
    er = checkpoint(e.join(F.broadcast(ns), "src").join(F.broadcast(nd), "dst"), eager=True)
    m = er.agg((2 * F.sum("w")).cast("bigint").alias("m2"))
    deg = (
        er.select(F.col("src").alias("n"), "w")
        .unionAll(er.select(F.col("dst").alias("n"), "w"))
        .groupBy("n")
        .agg(F.sum("w").cast("bigint").alias("k"))
    )
    dreg = (
        deg.join(F.broadcast(nation), deg.n == nation.n_nationkey)
        .groupBy(F.col("n_regionkey").alias("rk"))
        .agg(F.sum("k").cast("bigint").alias("d_c"))
    )
    ereg = (
        er.filter(F.col("rsrc") == F.col("rdst"))
        .groupBy(F.col("rsrc").alias("rk"))
        .agg((2 * F.sum("w")).cast("bigint").alias("e_c"))
    )
    q = (
        dreg.join(ereg, "rk", "left")
        .join(F.broadcast(region), dreg.rk == region.r_regionkey)
        .crossJoin(F.broadcast(m))
        .select(
            F.col("r_name").alias("region"),
            F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias("internal_w"),
            F.col("d_c").alias("degree_w"),
            (
                (
                    F.coalesce(F.col("e_c"), F.lit(0)).cast("decimal(38,0)")
                    * F.col("m2")
                    - F.col("d_c").cast("decimal(38,0)") * F.col("d_c")
                ).cast("double")
                / (F.col("m2").cast("decimal(38,0)") * F.col("m2")).cast("double")
            ).alias("qc"),
        )
    )
    w = W.orderBy("region").rowsBetween(W.unboundedPreceding, W.currentRow)
    return q.select(
        "region",
        "internal_w",
        "degree_w",
        F.round("qc", 6).alias("q_contrib"),
        F.round(F.sum("qc").over(w), 6).alias("q_cum"),
    ).orderBy("region")


@register(
    "x_assortativity",
    tags=("EXT", "J1", "A7", "F4"),
    oracle="""
        WITH e0 AS (
            SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        und AS (SELECT u AS n, v AS m FROM e0 UNION ALL SELECT v AS n, u AS m FROM e0),
        deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY n),
        xy AS (
            SELECT du.d AS x, dv.d AS y
            FROM und JOIN deg du ON und.n = du.n JOIN deg dv ON und.m = dv.n
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                   CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                   CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
            FROM xy
        )
        SELECT m AS m_directed_edges,
               round(CAST(m * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / (sqrt(CAST(m * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                        * sqrt(CAST(m * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))),
                     6) AS assortativity
        FROM s
    """,
)
def x_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the bipartite
    customer-supplier graph: Pearson correlation of endpoint degrees
    over the symmetrized edge list — do high-degree customers trade
    with high-degree suppliers (r>0) or with the long tail (r<0)? The
    structural health probe for any similarity graph the dedup family
    builds (strong disassortativity flags hub-and-spoke near-dup blobs
    — boilerplate templates matched by thousands of singletons).

    Determinism: every moment is an exact integer sum (Spark
    DECIMAL(38,0) partials == DuckDB HUGEINT); the correlation is one
    fixed sqrt/division tree over those exacts — hash-checked like
    x_acf, whose division-free centering this reuses.

    100 TB design: degree count = one partial-aggregable groupBy of
    2-bigint rows; the moments pass joins the edge list against the
    broadcast-sized degree table twice and reduces map-side to ONE
    row. Nothing but the edge build scales.

    Reference parity: no graph surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT graph family."""
    li = scan_wide(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    und = checkpoint(
        e0.select(F.col("u").alias("n"), F.col("v").alias("m")).unionAll(
            e0.select(F.col("v").alias("n"), F.col("u").alias("m"))
        ),
        eager=True,
    )
    deg = und.groupBy("n").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    xy = (
        und.join(deg.withColumnRenamed("n", "__n").withColumnRenamed("d", "x"),
                 F.col("n") == F.col("__n"))
        .join(deg.withColumnRenamed("n", "__m").withColumnRenamed("d", "y"),
              F.col("m") == F.col("__m"))
        .select("x", "y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(dec("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    num = (F.col("m") * F.col("sxy") - dec("sx") * F.col("sy")).cast("double")
    denx = F.sqrt((F.col("m") * F.col("sxx") - dec("sx") * F.col("sx")).cast("double"))
    deny = F.sqrt((F.col("m") * F.col("syy") - dec("sy") * F.col("sy")).cast("double"))
    return s.select(
        F.col("m").alias("m_directed_edges"),
        F.round(num / (denx * deny), 6).alias("assortativity"),
    )


LP_MAX_PART_FREQ = 35  # drop parts co-supplied by more suppliers (hub cap)
LP_TOP = 20  # candidate pairs returned


@register(
    "x_link_prediction",
    tags=("EXT", "J1", "A1", "F4"),
    oracle=f"""
        WITH ps AS (
            SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
        ),
        keep AS (
            SELECT p FROM ps GROUP BY p HAVING COUNT(*) <= {LP_MAX_PART_FREQ}
        ),
        cps AS (SELECT ps.p, ps.s FROM ps JOIN keep USING (p)),
        deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM cps GROUP BY s),
        pairs AS (
            SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS common
            FROM cps a JOIN cps b ON a.p = b.p AND a.s < b.s
            GROUP BY a.s, b.s
        )
        SELECT s1 AS supp_a, s2 AS supp_b, common,
               da.d AS deg_a, db.d AS deg_b,
               CAST(da.d * db.d AS BIGINT) AS pref_attach,
               round(CAST(common AS DOUBLE) / (da.d + db.d - common), 6)
                   AS jaccard
        FROM pairs JOIN deg da ON pairs.s1 = da.s
                   JOIN deg db ON pairs.s2 = db.s
        ORDER BY jaccard DESC, s1, s2 LIMIT {LP_TOP}
    """,
)
def x_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the supplier co-supply graph: rank
    not-necessarily-adjacent supplier pairs by neighborhood Jaccard
    (common co-supplied parts / union), with common-neighbor and
    preferential-attachment scores alongside (Liben-Nowell & Kleinberg
    2003) — the similarity-graph probe behind "which entities will
    trade next" and a structural cousin of the dedup candidate pass.

    Determinism: common/deg are exact integers; Jaccard is ONE IEEE
    division per pair; the top-{LP_TOP} picks order by the unique key
    (jaccard DESC, s1, s2) so the cut is tie-stable.

    100 TB design: the SAME rare-feature inverted-index machinery as
    MinHash-LSH dedup (operators/dedup.py:8) — candidate pairs come
    only from shared parts, hub parts co-supplied by >{LP_MAX_PART_FREQ}
    suppliers are capped out BEFORE the self-join (bounding pair fanout
    per part at {LP_MAX_PART_FREQ}^2/2), the pair count partial-aggregates
    on (s1,s2) through the shuffle, and the top-k is a distributed
    TakeOrderedAndProject — no global window, no all-pairs join.

    Reference parity: no graph surface in the reference
    (music_db.sql:6-106); SURVEY.md §2 EXT graph family."""
    li = scan_wide(spark, sf_dir, "lineitem", ["l_partkey", "l_suppkey"])
    ps = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    keep = ps.groupBy("p").agg(F.count(F.lit(1)).alias("f")).filter(
        F.col("f") <= LP_MAX_PART_FREQ
    ).select("p")
    # persist, not localCheckpoint: the capped frame feeds three
    # consumers (deg, both self-join sides) and Catalyst does NOT reuse
    # the exchange across the forked branches (A/B-measured at sf0.1,
    # same session: plain lineage 4.8-5.3 s, localCheckpoint 2.8-3.8 s,
    # persist 2.6-2.8 s; fresh-session medians 3.3 vs 3.4 s). persist
    # is also the repo-wide barrier convention and stays lazy — the
    # eager localCheckpoint materialized an RDD row copy at build time.
    # Round-10 drift audit in BASELINE.md §3.
    cps = cached(ps.join(keep, "p"))
    deg = cps.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = cps.select(F.col("p").alias("pa"), F.col("s").alias("s1"))
    b = cps.select(F.col("p").alias("pb"), F.col("s").alias("s2"))
    pairs = (
        a.join(b, (F.col("pa") == F.col("pb")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    da = deg.select(F.col("s").alias("__sa"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("s").alias("__sb"), F.col("d").alias("deg_b"))
    scored = (
        pairs.join(F.broadcast(da), F.col("s1") == F.col("__sa"))
        .join(F.broadcast(db), F.col("s2") == F.col("__sb"))
        .select(
            F.col("s1").alias("supp_a"),
            F.col("s2").alias("supp_b"),
            "common",
            "deg_a",
            "deg_b",
            (F.col("deg_a") * F.col("deg_b")).cast("bigint").alias("pref_attach"),
            F.round(
                F.col("common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("supp_a"), F.col("supp_b")
    ).limit(LP_TOP)
