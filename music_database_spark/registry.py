"""Query registry — the single source of truth consumed by __spark_entry__.py.

Each registered query is a (build, oracle) pair: `build(spark, sf_dir)`
declares the plan with the DataFrame API (Catalyst optimizes it), and
`oracle` is the equivalent ANSI SQL DuckDB runs on the same parquet for
the driver's differential correctness check. Column names are aliased
identically on both sides (driver hashes values under sorted column
names). Queries with no SQL-expressible oracle register oracle=None and
get a rows-only check.

Determinism conventions for oracle-checked float outputs (SURVEY.md §7.4.5):
double sums are order-dependent across partitionings, so any SUM/AVG over
a double column is computed as SUM(CAST(x AS DECIMAL(18,p))) — exact,
associative, identical on both engines — then cast back to double.

Oracle TYPE rule (round-6, the x_seq_packing lesson): every oracle OUTPUT
column must be an explicitly-cast BIGINT/DOUBLE/VARCHAR/DATE/BOOLEAN.
DuckDB silently widens — a windowed or product SUM over BIGINT is
HUGEINT, a bare decimal literal (1.0) is DECIMAL — and both reach pandas
as float64/object, hashing differently from Spark's bigint/double even
when values are equal. tools/diffcheck.py DESCRIBEs every oracle and
FAILS on HUGEINT/UHUGEINT/DECIMAL outputs; run it before registering.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

BuildFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: BuildFn
    oracle: str | None = None
    tags: tuple[str, ...] = ()
    doc: str = ""
    bench: bool = True
    # Non-None declares the query's OUTPUT legitimately depends on the
    # physical layout of its input (a layout probe, or an order-sensitive
    # sketch estimator) — the string is the documented WHY. Consumed by
    # `tools/diffcheck.py --layout`: exempt queries must still run on the
    # scrambled copy but are not compared across layouts. Declared here,
    # on the registration, so a new order-sensitive query cannot be
    # exempted by editing tool code or prose (round-9 verdict ask #7);
    # tests pin the exempt set.
    layout_exempt: str | None = None


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = True,
    layout_exempt: str | None = None,
) -> Callable[[BuildFn], BuildFn]:
    def deco(fn: BuildFn) -> BuildFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            build=fn,
            oracle=oracle,
            tags=tags,
            doc=fn.__doc__ or "",
            bench=bench,
            layout_exempt=layout_exempt,
        )
        return fn

    return deco


# The round this DRIVER_PRIORITY window was designed against: every name
# in the window had NO row in CORRECTNESS_r02..r{WINDOW_DESIGNED_AFTER_ROUND}
# when the window was rotated. Tests must compute "already verified"
# against rounds <= this constant only, so they stay green after the
# driver stamps the next CORRECTNESS file (the r05/r06 self-expiring-test
# lesson). Re-verification policy: once the never-verified pool is empty
# (round 7 drains it), subsequent windows rotate the OLDEST-verified
# names first — freshness debt, oldest round wins; new additions take
# window slots ahead of re-verifications, capped at the window size.
WINDOW_DESIGNED_AFTER_ROUND = 11

# Round-12 window — fifth rotation under the re-verification policy.
# Emitted verbatim by `python tools/verified_rounds.py --propose-window`
# against the r01-r11 ledger: no never-verified names remain, so the
# whole window is freshness debt — the 50 stalest last-verified names,
# draining the round-6 cohort (35 names through x_twap) and starting on
# round 7 (x_assortativity onward). The rotation naturally re-anchors
# four of this round's plan rewrites (x_mann_whitney, x_ndcg,
# x_rfm_segmentation, x_theilsen_slope — all r06-stale). After round
# 12, no query's newest driver anchor predates round 7.
DRIVER_PRIORITY: tuple[str, ...] = (
    "x_dp_noisy_counts",
    "x_expectations",
    "x_forecast_snaive",
    "x_group_sample",
    "x_histogram_equidepth",
    "x_ivf_probe_curve",
    "x_kanonymity",
    "x_kappa",
    "x_kcore",
    "x_kmv_setops",
    "x_knn_lsh_det",
    "x_l_diversity",
    "x_link_prediction",
    "x_lsh_curve_empirical",
    "x_mann_whitney",
    "x_media_frame_dedup",
    "x_modularity",
    "x_ndcg",
    "x_normalize_dedup",
    "x_path_mining",
    "x_poisson_bootstrap",
    "x_rfm_segmentation",
    "x_segmented_regression",
    "x_seq_packing",
    "x_span_mask",
    "x_spatial_join",
    "x_sssp_weighted",
    "x_stream_cms",
    "x_stream_ewma",
    "x_stream_group_sample",
    "x_stream_recovery",
    "x_substring_dedup",
    "x_temperature_sample",
    "x_theilsen_slope",
    "x_token_budget",
    "x_twap",
    "x_assortativity",
    "x_bpe_tokens",
    "x_cms_join_size",
    "x_compaction",
    "x_contamination_overlap",
    "x_crosscorr",
    "x_dedup_embedding",
    "x_dedup_hash_groups",
    "x_dedup_incremental",
    "x_dedup_incremental_band",
    "x_dedup_minhash",
    "x_dedup_simhash",
    "x_drop_manifest",
    "x_dsir_weights",
)


def load_all() -> dict[str, QuerySpec]:
    """Import every module that registers queries, then return the registry
    reordered so DRIVER_PRIORITY comes first (driver correctness window),
    followed by the rest in registration order."""
    from .plans import analytics, ddl, relational, scalar, scale, setops, sketches, udf_surface, windows  # noqa: F401
    from .operators import basket, constraints, corpus_health, dedup, dedup_eval, graph, knn, knn_eval, linkage, multimodal, pipeline, quality, spans, textops  # noqa: F401
    from .sources import formats, pydatasource  # noqa: F401
    from .streaming import batch_windows, stateful  # noqa: F401

    ordered = {name: REGISTRY[name] for name in DRIVER_PRIORITY if name in REGISTRY}
    # Remainder: oracle-backed queries before rows-only ones (stable
    # within each group) — if a future driver widens its sampling window
    # past 50, the extra slots verify hash-checkable queries first.
    rest = [n for n in REGISTRY if n not in ordered]
    for name in sorted(rest, key=lambda n: (REGISTRY[n].oracle is None, rest.index(n))):
        ordered[name] = REGISTRY[name]
    return ordered
