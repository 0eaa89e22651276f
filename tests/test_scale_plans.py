"""Physical-plan guarantees for the scale-path joins (PLANS.md):
bucketed joins must not shuffle; salted joins must equal the plain join."""

from __future__ import annotations

from pyspark.sql import functions as F

from music_database_spark.plans.scale import bucketed_join_frame, x_salted_join
from music_database_spark.session import pinned_conf
from music_database_spark.sources.loader import load_table

SF = "/root/testdata/sf0.001"


def test_bucketed_join_plan_has_no_exchange(spark):
    with pinned_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = bucketed_join_frame(spark, SF)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan


def test_salted_join_on_genuinely_skewed_data(spark):
    """The driver tables aren't skewed, so manufacture real skew: one key
    holding 50k of 60k rows. The salted join must agree with the plain
    join, and the salted key space must spread the hot key across salts."""
    from music_database_spark.plans.scale import N_SALT

    big = spark.range(60_000).select(
        F.when(F.col("id") < 50_000, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    dim = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    plain = {
        r["k"]: (r["n"], r["s"])
        for r in big.join(dim, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted_big = big.withColumn("salt", F.pmod(F.xxhash64("v", "k"), F.lit(N_SALT)))
    salted_dim = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1)).cast("array<bigint>"))
    )
    salted = {
        r["k"]: (r["n"], r["s"])
        for r in salted_big.join(salted_dim, ["k", "salt"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert salted == plain
    # the hot key really is spread across all salt values
    spread = (
        salted_big.filter(F.col("k") == 7).select("salt").distinct().count()
    )
    assert spread == N_SALT


def test_salted_join_equals_plain_join(spark):
    salted = {
        (r["priority"]): (r["n"], round(r["sum_qty"], 4))
        for r in x_salted_join(spark, SF).collect()
    }
    li = load_table(spark, SF, "lineitem")
    od = load_table(spark, SF, "orders")
    plain = {
        r["o_orderpriority"]: (r["n"], round(r["s"], 4))
        for r in li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert salted == plain


def test_aqe_skew_join_splits_hot_partition_and_restores_confs(spark):
    """x_aqe_skew_join's executed adaptive plan must show the automatic
    skew treatment firing — SortMergeJoin(skew=true) with a skewed
    AQEShuffleRead — and the threshold pins must be restored afterwards.
    Runs at sf0.1: the sf0.001 smoke data's hot partition is smaller than
    any sane detection threshold."""
    from music_database_spark.plans.scale import aqe_skew_join_plan

    keys = (
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    before = {k: spark.conf.get(k) for k in keys}
    plan = aqe_skew_join_plan(spark, "/root/testdata/sf0.1")
    assert "skew=true" in plan, plan[:2000]
    assert "skewed" in plan, plan[:2000]
    assert {k: spark.conf.get(k) for k in keys} == before


def test_runtime_bloom_filter_is_injected_and_confs_restored(spark):
    """The x_runtime_bloom_filter plan must carry the injected runtime
    filter (bloom_filter_agg creation + might_contain application on the
    fact scan), and the conf pins used to trigger injection at test
    scale must be restored on the session afterwards."""
    from music_database_spark.registry import load_all

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = load_all()["x_runtime_bloom_filter"].build(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan, plan[:2000]
    assert "bloom_filter_agg" in plan, plan[:2000]
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
    # and the filtered join still returns the right shape
    rows = df.collect()
    assert len(rows) > 0 and all(r["n"] > 0 for r in rows)


def test_decontaminate_broadcasts_the_benchmark_side(spark):
    """The benchmark shingle set must broadcast (eval suites are MBs, the
    corpus is TBs) — the corpus side must never be the build side of a
    shuffle join, even with auto-broadcast off."""
    from music_database_spark.registry import load_all

    reg = load_all()
    with pinned_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = reg["x_decontaminate"].build(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan


def test_dedup_lines_shuffles_digests_not_text(spark):
    """The boilerplate doc-frequency exchange must be keyed on the
    16-byte segment digest; the boilerplate set joins back broadcast."""
    from music_database_spark.registry import load_all

    reg = load_all()
    df = reg["x_dedup_lines"].build(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning(seg_hash" in plan, plan


def test_kmeans_broadcasts_centroids_every_iteration(spark):
    """Every Lloyd iteration must broadcast the K-centroid side into the
    assignment join — never shuffle the corpus against it. Built with
    materialize=False: the registered query persists the trained frames,
    which hides the iteration joins behind InMemoryTableScan in the
    executed plan."""
    from music_database_spark.operators.knn import KMEANS_ITERS, _kmeans_fit

    # Cache substitution would also hide the joins: if an earlier test
    # in the shared session persisted the identical Lloyd sub-plan, the
    # cache manager swaps in its InMemoryRelation even for this
    # unmaterialized build.
    spark.catalog.clearCache()
    _cents, assign = _kmeans_fit(spark, SF, materialize=False)
    plan = assign._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == KMEANS_ITERS, plan


def test_zorder_layout_prunes_files_on_both_dimensions(spark, tmp_path):
    """The x_zorder_layout docstring's claim, measured: one z-ordered
    layout must confine a narrow range filter on EITHER dimension to a
    strict subset of the physical files, while the scattered layout
    bleeds (nearly) every file into both scans. Both dimensions are
    quantized adaptively to the full 12-bit range here so the interleave
    is balanced even at smoke scale (the registered query's fixed //8
    bucketing leaves c_q only ~5 bits at sf0.001)."""
    from music_database_spark.sources.formats import _z_expr

    orders = load_table(spark, SF, "orders")
    s = orders.agg(
        F.min("o_orderdate").alias("dmin"),
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("dspan"),
        F.min("o_custkey").alias("cmin"),
        (F.max("o_custkey") - F.min("o_custkey")).alias("cspan"),
    ).first()
    q = orders.select(
        (F.datediff("o_orderdate", F.lit(s["dmin"])) * 4096 / (s["dspan"] + 1))
        .cast("bigint")
        .alias("d_q"),
        ((F.col("o_custkey") - s["cmin"]) * 4096 / (s["cspan"] + 1))
        .cast("bigint")
        .alias("c_q"),
    )
    z = q.withColumn("z", F.expr(_z_expr("spark")))
    n_files = 16
    paths = {
        "scattered": str(tmp_path / "scattered"),
        "zorder": str(tmp_path / "zorder"),
    }
    z.repartition(n_files).write.mode("overwrite").parquet(paths["scattered"])
    z.repartitionByRange(n_files, "z").sortWithinPartitions("z").write.mode(
        "overwrite"
    ).parquet(paths["zorder"])

    def scan(path, col):
        # a 1/8-wide slice of the quantized space on one dimension
        df = spark.read.parquet(path).filter(
            (F.col(col) >= 1024) & (F.col(col) < 1536)
        )
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col("_metadata.file_path")).alias("n_files"),
        ).first()

    for col in ("d_q", "c_q"):
        sc = scan(paths["scattered"], col)
        zo = scan(paths["zorder"], col)
        assert zo["n_rows"] == sc["n_rows"] and zo["n_rows"] > 0
        # 16 files cover the top 4 z bits = 2 high bits per dimension, so a
        # 1/8 slice on either dimension lives in ~1/4 of the files (+range
        # boundary straddle); the scattered layout touches essentially all.
        assert zo["n_files"] < sc["n_files"], (col, zo, sc)

def test_bloom_decontaminate_bitmap_is_bounded_and_prunes(spark):
    """The Bloom word-table must stay <= BLOOM_BITS/64 rows no matter how
    large the benchmark set is (that's the whole point: fixed-size
    broadcast), and the prefilter must prune the corpus shingle stream
    before the exact verify join."""
    from music_database_spark.operators.pipeline import (
        BENCH_MOD,
        BLOOM_BITS,
        CONTAM_NGRAM,
        _bloom_probes,
    )
    from music_database_spark.plans.relational import _t
    import pyspark.sql.functions as F

    docs = _t(spark, SF, "documents")
    toks = F.split("text", " ")
    n_sh = F.greatest(F.size(toks) - CONTAM_NGRAM + 1, F.lit(1))
    sh_arr = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, CONTAM_NGRAM))),
    )
    sh = docs.select("doc_id", F.explode(sh_arr).alias("sh_hash")).dropDuplicates(
        ["doc_id", "sh_hash"]
    )
    bench = sh.filter(F.col("doc_id") % BENCH_MOD == 0).select("sh_hash").distinct()
    words = (
        bench.select(F.explode(_bloom_probes(F.col("sh_hash"))).alias("pos"))
        .distinct()
        .groupBy(F.expr("pos div 64").alias("word_idx"))
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))").alias("bits"))
    )
    assert words.count() <= BLOOM_BITS // 64
    # the prefilter keeps every true overlap (no false negatives) yet
    # passes only a sliver of the corpus stream: survivors < 10% of input
    corpus_n = sh.filter(F.col("doc_id") % BENCH_MOD != 0).count()
    cand = (
        sh.filter(F.col("doc_id") % BENCH_MOD != 0)
        .select("doc_id", "sh_hash", F.explode(_bloom_probes(F.col("sh_hash"))).alias("pos"))
        .withColumn("word_idx", F.expr("pos div 64"))
        .join(F.broadcast(words), "word_idx")
        .filter(F.expr("(bits & shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))) != 0"))
        .groupBy("doc_id", "sh_hash")
        .count()
        .filter(F.col("count") == 3)
    )
    n_cand = cand.count()
    true_overlap = (
        sh.filter(F.col("doc_id") % BENCH_MOD != 0).join(bench, "sh_hash").count()
    )
    assert true_overlap <= n_cand < corpus_n * 0.10


def test_ann_index_serve_scan_is_partition_pruned(spark):
    """x_ann_index_persist must answer probes from the on-disk IVF index
    with dynamic partition pruning on cluster_id (the IVF promise made
    physical), and its served results must be identical to the in-job
    x_knn_ivf_trained pipeline."""
    from music_database_spark.registry import load_all

    reg = load_all()
    df = reg["x_ann_index_persist"].build(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression(cluster_id" in plan, plan[:2000]
    served = [tuple(r) for r in df.collect()]
    in_job = [tuple(r) for r in reg["x_knn_ivf_trained"].build(spark, SF).collect()]
    assert served == in_job


def test_unrolled_oracle_round_bounds_are_sufficient(spark):
    # The k-core and BFS oracles unroll a FIXED number of rounds; the
    # Spark loops exit at fixpoint. If the driver-scale data ever needed
    # more rounds than the oracle unrolls, the hash check would diverge —
    # assert the fixpoint margin on the real loops here, so the bound
    # failing shows up as a named test, not a mystery mismatch.
    from pyspark.sql import functions as F

    from music_database_spark.operators.graph import (
        BFS_ROUNDS,
        KCORE_ROUNDS,
        kcore_peel,
        x_bfs,
    )

    sf = "/root/testdata/sf0.01"
    _core, rounds = kcore_peel(spark, sf)
    assert rounds < KCORE_ROUNDS, "peel used the whole budget - raise KCORE_ROUNDS"
    # BFS: the loop ran max(dist) + 1 rounds, the last finding an empty
    # frontier (fewer when the saturation exit fires)
    max_dist = x_bfs(spark, sf).agg(F.max("dist")).collect()[0][0]
    assert max_dist + 1 < BFS_ROUNDS, "BFS used the whole budget - raise BFS_ROUNDS"


def test_planaudit_lint_is_clean_on_representative_plans(spark):
    """tools/planaudit.py's hard rules as a fast regression gate: a
    diverse slice of the registry (join-heavy, window, ANN, dedup,
    graph, UDF-surface, the two newest) must contain no
    CartesianProduct, no row-at-a-time BatchEvalPython node, no
    unpartitioned window over a non-collapsed frame, and no
    Spark-vs-oracle output-type divergence (the round-7 lints). The
    full 277-plan sweep lives in PLANAUDIT.md; this keeps the lint in
    every pytest run."""
    import duckdb

    from music_database_spark.registry import load_all
    from music_database_spark.sources.loader import DRIVER_TABLES
    from tools.planaudit import (
        formatted_plan,
        plan_nodes,
        type_parity_findings,
        unpartitioned_window_findings,
    )

    reg = load_all()
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    sample = [
        "q5_top_rated",
        "x_running_sum",
        "x_knn_ivf",
        "x_dedup_minhash_md5",
        "x_triangle_count",
        "x_grouped_map",
        "x_python_udtf",
        "x_ndcg",  # round-12: global ranks became TakeOrdered top-k — must stay clean
        "x_dynamic_partition_pruning",  # the round-7 type-parity regression site
        "x_padding_waste",
        "x_embed_coherence",
        # round-8 fix site; round-12: its date-champion aggregate no
        # longer passes the tightened collapser rule and the query lives
        # in WINDOW_WHITELIST instead — pinned as flagged below
        "x_skyline",
        "x_histogram_equidepth",
        # round-12 conversions: the two_level_rank forms must stay clean
        # (offsets window group-keys on the bounded __bkt id)
        "x_rfm_segmentation",
        "x_zipf_fit",
        "x_auc_roc",
        "x_ks_test",
    ]
    from tools.planaudit import WINDOW_WHITELIST

    for name in sample:
        df = reg[name].build(spark, SF)
        text = formatted_plan(df)
        nodes = plan_nodes(text)
        assert "CartesianProduct" not in nodes, name
        # exact node name: BatchEvalPythonUDTF (the UDTF surface) is allowed
        assert "BatchEvalPython" not in nodes, name
        assert nodes, f"{name}: empty plan parse"
        if name in WINDOW_WHITELIST:
            # a whitelisted query must actually NEED its whitelist entry —
            # a clean plan here means the entry is stale and should go
            assert unpartitioned_window_findings(text) != [], (
                f"{name}: whitelisted but lint-clean — remove the entry"
            )
        else:
            assert unpartitioned_window_findings(text) == [], name
        if reg[name].oracle:
            duck_cols = [
                (c, t) for c, t, *_ in con.execute(f"DESCRIBE {reg[name].oracle}").fetchall()
            ]
            assert type_parity_findings(df.schema, duck_cols) == [], name


def test_planaudit_ledger_ships_zero_unreviewed_bnlj_rows():
    """Round-9 hardening: an 'UNREVIEWED — inspect' row in the shipped
    BNLJ ledger defeats its purpose (round-8 verdict shipped one for
    x_histogram_equidepth's 1-row total-count broadcast). The tool now
    hard-fails on unreviewed BNLJ sites; this pins both the shipped
    PLANAUDIT.md (no UNREVIEWED rows, zero hard flags) and the
    classifier itself (the scalar-broadcast inventory covers the
    round-8 rewrite)."""
    import os

    from tools.planaudit import bnlj_reason

    assert not bnlj_reason("x_histogram_equidepth").startswith("UNREVIEWED")
    # a name outside every reviewed family must still raise the signal
    assert bnlj_reason("x_some_future_query").startswith("UNREVIEWED")
    ledger = os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLANAUDIT.md")
    text = open(ledger).read()
    assert "UNREVIEWED" not in text, "shipped ledger carries an unreviewed BNLJ row"
    assert "## HARD FLAGS" not in text, "shipped ledger carries hard flags"


def test_window_lint_parses_all_three_argument_shapes():
    """Pure-text pin of the round-8 fail-closed parser: the formatted
    printer OMITS empty Window field lists, so the Arguments line has 3
    bracket groups (exprs+partition+order), 2 (exprs + exactly one of
    partition/order — the order spec carries ASC/DESC NULLS markers), or
    1 (exprs only). The old len>=3-else-skip rule was silently blind to
    the 2- and 1-group unpartitioned shapes; each canned plan below must
    classify exactly as labeled, and an unparseable spec must FAIL
    CLOSED (be itself a finding)."""
    from tools.planaudit import unpartitioned_window_findings

    def plan(args_line: str) -> str:
        # minimal formatted-explain shape: tree section, then details;
        # the scan is a parquet FACT table (lint treats dimension-only
        # and literal-frame subtrees as bounded)
        return "\n".join(
            [
                "* Window (2)",
                "+- * Scan parquet  (1)",
                "",
                "(1) Scan parquet ",
                "Output [1]: [x#1]",
                "Location: InMemoryFileIndex [file:/data/orders.parquet]",
                "",
                "(2) Window",
                "Input [1]: [x#1]",
                args_line,
                "",
            ]
        )

    # 3 groups, non-empty partition: clean
    ok3 = plan("Arguments: [sum(x) w AS s#2], [grp#3], [x#1 ASC NULLS FIRST]")
    assert unpartitioned_window_findings(ok3) == []
    # 2 groups, second is an ORDER spec -> unpartitioned over a raw scan: flagged
    bad2 = plan("Arguments: [row_number() w AS r#2], [x#1 ASC NULLS FIRST]")
    assert len(unpartitioned_window_findings(bad2)) == 1
    # 2 groups, second is a PARTITION spec: clean
    ok2 = plan("Arguments: [sum(x) w AS s#2], [grp#3]")
    assert unpartitioned_window_findings(ok2) == []
    # 1 group -> unpartitioned and unordered: flagged
    bad1 = plan("Arguments: [sum(x) w AS s#2]")
    assert len(unpartitioned_window_findings(bad1)) == 1
    # no Arguments line at all -> parse failure must fail closed
    broken = plan("NotArguments: []")
    finds = unpartitioned_window_findings(broken)
    assert len(finds) == 1 and "parse failure" in finds[0]


def test_window_lint_aggregate_collapser_requires_bounded_keys():
    """Round-12 tightening (round-11 verdict ask #3): an upstream
    aggregate is no longer boundedness proof by itself — aggregation
    collapses grain, not cardinality. Only an EMPTY-keys aggregate
    (global -> <=1 row) or keys from the bounded-domain name set
    (__bkt) count; keys on a data-sized entity (custkey) and an
    unparseable Keys line both leave the window flagged. This pins the
    exact leniency that sheltered x_rfm_segmentation /
    x_conversion_time / x_ndcg / x_zipf_fit through round 11."""
    from tools.planaudit import unpartitioned_window_findings

    def plan(keys_line: str | None) -> str:
        detail = ["(2) HashAggregate", "Input [1]: [o_custkey#1L]"]
        if keys_line is not None:
            detail.append(keys_line)
        detail.append("Functions [1]: [count(1)]")
        return "\n".join(
            [
                "* Window (3)",
                "+- * HashAggregate (2)",
                "   +- * Scan parquet  (1)",
                "",
                "(1) Scan parquet ",
                "Output [1]: [o_custkey#1L]",
                "Location: InMemoryFileIndex [file:/data/orders.parquet]",
                "",
                *detail,
                "",
                "(3) Window",
                "Input [2]: [o_custkey#1L, c#2L]",
                "Arguments: [row_number() w AS r#4], [c#2L ASC NULLS FIRST]",
                "",
            ]
        )

    # per-entity keys: linear in the data -> flagged (the old rule's hole)
    assert len(unpartitioned_window_findings(plan("Keys [1]: [o_custkey#1L]"))) == 1
    # global aggregate -> <=1 row: clean
    assert unpartitioned_window_findings(plan("Keys: []")) == []
    # bounded bucket-id key (two_level_rank offsets frame): clean
    assert unpartitioned_window_findings(plan("Keys [1]: [__bkt#9]")) == []
    # mixed bounded+unbounded keys: flagged
    assert (
        len(
            unpartitioned_window_findings(
                plan("Keys [2]: [__bkt#9, o_custkey#1L]")
            )
        )
        == 1
    )
    # missing Keys line: fail closed -> flagged
    assert len(unpartitioned_window_findings(plan(None))) == 1


def test_window_whitelist_entries_are_reviewed_and_current():
    """The round-12 WINDOW_WHITELIST: non-empty (the tightened lint
    pushes bounded-but-unprovable frames here), every entry carries a
    substantive written reason, and none of the four queries the
    round-11 verdict ordered CONVERTED hides behind it."""
    from tools.planaudit import WINDOW_WHITELIST

    assert WINDOW_WHITELIST, "tightened lint ships with reviewed whitelist"
    for name, reason in WINDOW_WHITELIST.items():
        assert isinstance(reason, str) and len(reason) >= 40, name
    for converted in (
        "x_rfm_segmentation",
        "x_conversion_time",
        "x_ndcg",
        "x_zipf_fit",
        "x_ks_test",
        "x_ks_drift",
        "x_mann_whitney",
        "x_auc_roc",
    ):
        assert converted not in WINDOW_WHITELIST, (
            f"{converted} was converted, not whitelisted"
        )


def test_generate_inferred_filter_never_reinlines_computed_arrays(spark):
    """Round-9 variantcheck find: InferFiltersFromGenerate clones a
    generate's computed-array input into an inferred `size(e) > 0 AND
    isnotnull(e)` predicate, which runs interpreted (HOFs never codegen
    inside a Predicate) and which filter pushdown then drags below the
    scan's repartition — x_winnow_candidates measured 199 s vs 3.7 s at
    2x sf0.1 because the whole md5 winnow pipeline re-ran per row on one
    task. Two independent guards ship: the rule is excluded session-wide
    (session.EXCLUDED_OPTIMIZER_RULES, both get_spark and
    tune_for_session) and winnow_candidate_pairs persists the doc-level
    array frame as a cache barrier for sessions we don't configure.
    This pins the outcome: no Filter in the optimized plan may contain
    the winnow expression."""
    from music_database_spark.registry import load_all
    from music_database_spark.session import EXCLUDED_OPTIMIZER_RULES, tune_for_session

    assert "InferFiltersFromGenerate" in spark.conf.get(
        "spark.sql.optimizer.excludedRules", ""
    )
    # tune_for_session must apply the same exclusion to a foreign session
    spark.conf.unset("spark.sql.optimizer.excludedRules")
    tune_for_session(spark)
    assert spark.conf.get("spark.sql.optimizer.excludedRules") == ",".join(
        EXCLUDED_OPTIMIZER_RULES
    )
    # ... and MERGE with, not overwrite, exclusions the caller configured
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.CollapseRepartition",
    )
    tune_for_session(spark)
    merged = spark.conf.get("spark.sql.optimizer.excludedRules").split(",")
    assert "org.apache.spark.sql.catalyst.optimizer.CollapseRepartition" in merged
    assert all(r in merged for r in EXCLUDED_OPTIMIZER_RULES)
    assert len(merged) == len(set(merged))
    # tune_for_session is idempotent: re-applying adds no duplicates
    tune_for_session(spark)
    assert spark.conf.get("spark.sql.optimizer.excludedRules").split(",") == merged
    # ... including when the caller's value has whitespace after commas
    # ('ruleA, ruleB' — Spark trims, the membership check must too;
    # round-10 advisor): stripped output, still no duplicates.
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        " org.apache.spark.sql.catalyst.optimizer.CollapseRepartition , "
        + ", ".join(EXCLUDED_OPTIMIZER_RULES),
    )
    tune_for_session(spark)
    spaced = spark.conf.get("spark.sql.optimizer.excludedRules").split(",")
    assert spaced == [r.strip() for r in spaced]
    assert len(spaced) == len(set(spaced))
    assert all(r in spaced for r in EXCLUDED_OPTIMIZER_RULES)
    spark.conf.unset("spark.sql.optimizer.excludedRules")
    tune_for_session(spark)

    df = load_all()["x_winnow_candidates"].build(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    offending = [
        ln for ln in plan.splitlines() if "Filter" in ln and "md5(" in ln
    ]
    assert not offending, offending


def test_two_level_rank_is_exact_and_balanced_under_95pct_ties(spark):
    """Round-11 skew hardening (round-10 verdict ask #3): the retired
    value-range bucket formula degraded to ONE hot bucket when 95%+ of
    rows share a value — recreating the single-task window the pattern
    exists to avoid. two_level_rank buckets on the FULL unique sort key
    (value + tie columns), so the hot value splits across buckets by its
    tie column. Pins (a) exact global row_number, (b) exact weighted
    exclusive prefix-sums + grand total, (c) the bucket-occupancy bound
    under an adversarial 95%-tied distribution."""
    from pyspark.sql import functions as F

    from music_database_spark.operators.ranking import two_level_rank

    n = 20_000
    df = spark.range(1, n + 1).select(
        "id",
        F.when(F.col("id") % 20 != 0, F.lit(42))
        .otherwise(F.col("id") % 997)
        .cast("bigint")
        .alias("v"),
    )
    out = (
        two_level_rank(df, ["v", "id"])
        .toPandas()
        .sort_values(["v", "id"])
        .reset_index(drop=True)
    )
    assert list(out["rn"]) == list(range(1, n + 1))

    vc = df.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wout = (
        two_level_rank(vc, ["v"], weight="c", total_col="n")
        .toPandas()
        .sort_values("v")
        .reset_index(drop=True)
    )
    assert list(wout["cum"]) == list(wout["c"].cumsum().shift(fill_value=0))
    assert set(wout["n"]) == {n}

    # occupancy bound: run the helper's OWN deterministic bucketing
    # stage and demand the hot value (95% of rows) spreads across
    # buckets — the retired value-range formula put all of it in one
    # bucket (share ~0.95); the boundary sample picks on the composite
    # (v, id) key, so the hot value splits by its tie column.
    from music_database_spark.operators.ranking import _bucket_column

    occ = (
        df.withColumn("b", _bucket_column(df, ["v", "id"], 32))
        .groupBy("b")
        .count()
        .toPandas()
    )
    assert occ["count"].max() / n <= 0.25, (
        f"hot bucket holds {occ['count'].max() / n:.0%} of the frame"
    )


def test_sql_ntile_matches_window_ntile(spark):
    """sql_ntile's tile-from-rank arithmetic must be bit-identical to
    the engine's NTILE for every distribution shape: n divisible by k,
    n % k != 0 (first r tiles take the extra row), and n < k (q = 0 —
    the branch whose div-by-q arm must never evaluate)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from music_database_spark.operators.ranking import sql_ntile

    for n, k in [(1, 5), (4, 5), (5, 5), (7, 3), (20, 6), (100, 7)]:
        df = spark.range(1, n + 1).select("id")
        ref = df.select("id", F.ntile(k).over(W.orderBy("id")).alias("t"))
        got = df.select("id", sql_ntile("id", str(n), k).alias("t"))
        assert sorted(map(tuple, ref.collect())) == sorted(
            map(tuple, got.collect())
        ), (n, k)


def test_bpe_train_final_plan_is_checkpoint_truncated(spark):
    """Round-14 restructure (r13 verdict ask #2): x_bpe_train's merge
    rounds collect each round's argmax pair (1 row, deterministic total
    order) and re-segment into a LAZY localCheckpoint, so the final
    assembled plan must read ONLY checkpointed vocab-sized frames — no
    parquet re-scan of documents, no per-round exchange bloat (the r13
    plan re-derived the segmented dict per round: 21 document scans,
    1102 executed-plan Exchanges)."""
    from tools.planaudit import formatted_plan

    from music_database_spark.registry import load_all

    df = load_all()["x_bpe_train"].build(spark, SF)
    text = formatted_plan(df)
    assert "Scan parquet" not in text, "bpe merge rounds re-derive the corpus"
    assert text.count("Exchange") <= 8, text.count("Exchange")
    # results stay pinned by diffcheck; here just shape-sanity the output
    assert df.columns == [
        "merge_rank", "left_tok", "right_tok", "pair_count", "tokens_after"
    ]


def test_boundary_sample_is_bounded_and_countless(spark):
    """Round-14: the rank family's boundary sample is a top-k-by-random-
    tag pass (TakeOrderedAndProject) — self-bounding, so two_level_rank
    no longer runs a count job to size a fraction. Pins (a) the sample
    size bound nb*oversample, (b) whole-frame capture below the cap
    (exact boundaries for small frames), (c) only the requested columns
    come back, (d) the jobcount economy: a full rank call runs exactly
    two driver actions before the output action (sample + totals)."""
    from pyspark.sql import functions as F

    from music_database_spark.operators.ranking import (
        _BOUNDARY_OVERSAMPLE,
        boundary_sample,
        two_level_rank,
    )

    n = 20_000
    df = spark.range(1, n + 1).select("id", (F.col("id") % 97).alias("v"))
    nb = 32
    rows = boundary_sample(df, ["v", "id"], nb)
    assert len(rows) == nb * _BOUNDARY_OVERSAMPLE  # capped below frame size
    assert set(rows[0].asDict()) == {"v", "id"}

    tiny = spark.range(1, 101).select("id", F.lit(1).alias("v"))
    assert len(boundary_sample(tiny, ["v", "id"], nb)) == 100  # whole frame

    # jobcount economy: sample + bucket-totals to BUILD the ranked
    # frame — the former dedicated count job is gone. AQE may split the
    # totals aggregate into a stage-job, so the bound is <=3 (the old
    # path's floor was 4: count + sample + totals' >=2).
    sc = spark.sparkContext
    sc.setJobGroup("rk14", "rank build")
    ranked = two_level_rank(df, ["v", "id"])
    sc.setJobGroup(None, None)
    build_jobs = len(sc.statusTracker().getJobIdsForGroup("rk14"))
    assert build_jobs <= 3, f"count job is back: {build_jobs} build jobs"
    assert ranked.count() == n


def test_two_level_rank_degenerate_shapes(spark):
    """Edge shapes the sweeps never construct: empty input, one row,
    every row tied on the value (ranks resolved purely by the tie
    column), and a weighted frame containing zero weights."""
    from pyspark.sql import functions as F

    from music_database_spark.operators.ranking import two_level_rank

    empty = spark.range(0).select("id", F.lit(1).alias("v"))
    assert two_level_rank(empty, ["v", "id"]).count() == 0

    one = spark.range(1).select("id", F.lit(7).alias("v"))
    row = two_level_rank(one, ["v", "id"], total_col="n").collect()[0]
    assert (row["rn"], row["n"]) == (1, 1)

    n = 5_000
    all_tied = spark.range(1, n + 1).select("id", F.lit(42).alias("v"))
    out = (
        two_level_rank(all_tied, ["v", "id"])
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert list(out["rn"]) == list(range(1, n + 1))

    weighted = spark.createDataFrame(
        [(1, 3), (2, 0), (3, 5), (4, 0), (5, 2)], "v long, c long"
    )
    w = (
        two_level_rank(weighted, ["v"], weight="c", total_col="n")
        .toPandas()
        .sort_values("v")
        .reset_index(drop=True)
    )
    assert list(w["cum"]) == [0, 3, 3, 8, 8]
    assert set(w["n"]) == {10}


def test_rank_family_survives_extreme_value_concentration(spark, tmp_path):
    """End-to-end adversarial-skew sweep for the three two_level_rank
    call sites: an orders table where 95% of rows share one price (and
    so one revenue per customer) must still hash-match the DuckDB
    oracle's raw global ranking."""
    import os
    import sys

    import duckdb
    from pyspark.sql import functions as F

    from music_database_spark.registry import load_all

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from diffcheck import normalize

    n = 20_000
    sf = str(tmp_path / "skew")
    os.makedirs(sf)
    (
        spark.range(1, n + 1)
        .select(
            F.col("id").alias("o_orderkey"),
            (F.col("id") % 500 + 1).alias("o_custkey"),
            F.when(F.col("id") % 20 != 0, F.lit(123.45))
            .otherwise((F.col("id") % 997).cast("double") + 0.25)
            .cast("decimal(12,2)")
            .alias("o_totalprice"),
            F.date_add(
                F.lit("2024-01-01").cast("date"), (F.col("id") % 60).cast("int")
            ).alias("o_orderdate"),
        )
        .write.parquet(f"{sf}/orders.parquet")
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet/*.parquet')"
    )
    reg = load_all()
    for name in ("x_lorenz_curve", "x_histogram_equidepth", "x_theilsen_slope"):
        got = normalize(reg[name].build(spark, sf).toPandas())
        want = normalize(con.execute(reg[name].oracle).fetchdf())
        assert got.equals(want), f"{name} diverged from oracle on 95%-tied values"
