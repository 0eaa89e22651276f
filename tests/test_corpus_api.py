"""CorpusPipeline facade pinned against the registered driver queries:
both surfaces must implement the same semantics."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    from music_database_spark.sources.loader import load_table

    return load_table(spark, SF_SMOKE, "documents")


@pytest.fixture(scope="module")
def pipe(docs):
    from music_database_spark.corpus import CorpusPipeline

    return CorpusPipeline(docs)


def test_exact_dedup_matches_registered_query(spark, pipe):
    from music_database_spark.registry import load_all

    reg_ids = {
        r["doc_id"] for r in load_all()["x_dedup_exact"].build(spark, SF_SMOKE).collect()
    }
    api_ids = {r["doc_id"] for r in pipe.exact_dedup().select("doc_id").collect()}
    assert api_ids == reg_ids


def test_near_dup_pairs_match_registered_minhash(spark, pipe):
    from music_database_spark.registry import load_all

    reg = {
        (r["id_a"], r["id_b"])
        for r in load_all()["x_dedup_minhash"].build(spark, SF_SMOKE).collect()
    }
    api = {(r["id_a"], r["id_b"]) for r in pipe.near_dup_pairs(0.6).collect()}
    assert api == reg


def test_split_fractions_match_registered_query(spark, pipe):
    from music_database_spark.registry import load_all

    reg = {
        r["split"]: r["n_docs"]
        for r in load_all()["x_hash_split"].build(spark, SF_SMOKE).collect()
    }
    api = {
        r["split"]: r["n"]
        for r in pipe.with_split().groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert api == reg


def test_sample_matches_registered_stratified_sample(spark, pipe):
    from music_database_spark.registry import load_all

    reg = {
        r["lang"]: r["n_sampled"]
        for r in load_all()["x_stratified_sample"].build(spark, SF_SMOKE).collect()
    }
    api = {
        r["lang"]: r["n"]
        for r in pipe.sample(10).groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        if r["n"] > 0
    }
    assert api == {k: v for k, v in reg.items() if v > 0}


def test_quality_flags_match_registered_filter(spark, pipe):
    from music_database_spark.registry import load_all

    reg = {
        r["lang"]: (r["n_kept"], r["n_dropped"])
        for r in load_all()["x_repetition_filter"].build(spark, SF_SMOKE).collect()
    }
    flagged = pipe.with_quality_flags()
    api = {
        r["lang"]: (r["kept"], r["drop"])
        for r in flagged.groupBy("lang")
        .agg(
            F.sum(F.when(F.col("dropped"), 0).otherwise(1)).alias("kept"),
            F.sum(F.when(F.col("dropped"), 1).otherwise(0)).alias("drop"),
        )
        .collect()
    }
    assert api == reg


def test_pack_sequences_bins_are_contiguous(pipe):
    packed = pipe.pack_sequences(window_tokens=512, shards=4).select(
        "shard", "bin", "doc_id"
    )
    rows = packed.orderBy("shard", "doc_id").collect()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["bin"])
    for bins in by_shard.values():
        assert bins[0] == 0  # packing starts at the first window
        assert all(b2 - b1 >= 0 for b1, b2 in zip(bins, bins[1:]))  # monotone in id order


def test_exact_dedup_is_idempotent(pipe):
    from music_database_spark.corpus import CorpusPipeline

    once = pipe.exact_dedup()
    twice = CorpusPipeline(once).exact_dedup()
    assert once.count() == twice.count()


def test_sample_is_subset_and_split_is_total(docs, pipe):
    n = docs.count()
    s = pipe.sample(10)
    assert 0 < s.count() < n
    assert s.join(docs, "doc_id", "left_anti").count() == 0  # subset
    split_counts = {
        r["split"]: r["count"] for r in pipe.with_split().groupBy("split").count().collect()
    }
    assert sum(split_counts.values()) == n  # exactly one split per doc


def test_decontaminate_matches_registered_query(spark, docs, pipe):
    from music_database_spark.corpus import CorpusPipeline
    from music_database_spark.registry import load_all

    reg = {
        (r["doc_id"], r["n_overlap"], r["contaminated"])
        for r in load_all()["x_decontaminate"].build(spark, SF_SMOKE).collect()
    }
    corpus = CorpusPipeline(docs.filter(F.col("doc_id") % 50 != 0))
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    api = {
        (r["doc_id"], r["n_overlap"], r["contaminated"])
        for r in corpus.decontaminate(bench).collect()
    }
    assert api == reg


def test_lm_score_matches_registered_query(spark, pipe):
    from music_database_spark.registry import load_all

    reg = {
        (r["doc_id"], r["n_bigrams"], r["nll"])
        for r in load_all()["x_ngram_lm_score"].build(spark, SF_SMOKE).collect()
    }
    api = {
        (r["doc_id"], r["n_bigrams"], r["nll"]) for r in pipe.lm_score().collect()
    }
    assert api == reg


def test_weighted_sample_matches_registered_query(spark, pipe):
    from music_database_spark.operators.pipeline import WSAMPLE_K
    from music_database_spark.registry import load_all

    reg = {
        (r["source"], r["n_kept"], r["kept_id_sum"], r["kept_chars"])
        for r in load_all()["x_weighted_sample"].build(spark, SF_SMOKE).collect()
    }
    api_rows = (
        pipe.weighted_sample(WSAMPLE_K, "n_chars", group_col="source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
        .collect()
    )
    api = {
        (r["source"], r["n_kept"], r["kept_id_sum"], r["kept_chars"])
        for r in api_rows
    }
    assert api == reg


def test_bm25_external_terms_are_deterministic_and_ranked(pipe):
    terms = ["the", "of", "data", "model"]
    a = pipe.bm25(terms, top_k=10).collect()
    b = pipe.bm25(terms, top_k=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) <= 10 and all(r["score"] > 0 for r in a)
    scores = [r["score"] for r in a]
    assert scores == sorted(scores, reverse=True)


def test_winnow_api_matches_registered_queries(spark, pipe):
    """CorpusPipeline.winnow_candidates must return exactly the
    x_winnow_candidates rows at default knobs, and winnow_fingerprints
    the same per-doc counts as x_winnow_fingerprint."""
    from music_database_spark.registry import load_all

    reg = load_all()
    api_pairs = [tuple(r) for r in pipe.winnow_candidates().collect()]
    reg_pairs = [
        tuple(r) for r in reg["x_winnow_candidates"].build(spark, SF_SMOKE).collect()
    ]
    assert api_pairs == reg_pairs
    api_fp = {
        r["doc_id"]: (r["n_kgrams"], len(r["fps"]))
        for r in pipe.winnow_fingerprints().collect()
    }
    reg_fp = {
        r["doc_id"]: (r["n_kgrams"], r["n_fp"])
        for r in reg["x_winnow_fingerprint"].build(spark, SF_SMOKE).collect()
    }
    assert api_fp == reg_fp


def test_cluster_reps_algorithms_agree(pipe):
    star = pipe.cluster_reps(algorithm="star").collect()
    prop = pipe.cluster_reps(algorithm="label").collect()
    assert [tuple(r) for r in star] == [tuple(r) for r in prop]
    assert len(star) > 0
    # every rep is a member of its own cluster and is the min id
    reps = {}
    for r in star:
        reps.setdefault(r["cluster_rep"], []).append(r["doc_id"])
    for rep, members in reps.items():
        assert rep == min(members)


def test_diff_detects_carved_changes(spark, docs, pipe):
    from pyspark.sql import functions as F

    new = docs.filter(F.col("doc_id") % 20 != 11).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 20 == 3, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    from music_database_spark.corpus import CorpusPipeline

    old = CorpusPipeline(docs.filter(F.col("doc_id") % 20 != 7))
    out = {r["change"]: r["n"] for r in old.diff(new).collect()}
    ids = docs.select("doc_id").toPandas()["doc_id"]
    assert out["added"] == int(((ids % 20 == 7) & (ids % 20 != 11)).sum())
    assert out["removed"] == int(((ids % 20 == 11) & (ids % 20 != 7)).sum())
    assert out["changed"] == int(((ids % 20 == 3)).sum())


def test_shared_shingle_index_serves_both_verifies(spark, pipe):
    # One index materialization, two verifies: outputs must equal the
    # registered standalone queries row-for-row, and the pair-stats frame
    # must be built exactly once (cached + persisted on the instance).
    from music_database_spark.registry import load_all

    reg = load_all()
    jac_shared = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in pipe.jaccard_pairs().collect()
    }
    con_shared = {
        (r["contained_id"], r["container_id"]): (r["inter"], r["n_contained"], r["containment"])
        for r in pipe.containment_pairs().collect()
    }
    stats_first = pipe.shingle_index()
    assert pipe.shingle_index() is stats_first  # cached, not rebuilt
    assert stats_first.storageLevel.useMemory  # actually persisted
    jac_reg = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in reg["x_dedup_ngram_jaccard"].build(spark, SF_SMOKE).collect()
    }
    con_reg = {
        (r["contained_id"], r["container_id"]): (r["inter"], r["n_contained"], r["containment"])
        for r in reg["x_dedup_containment"].build(spark, SF_SMOKE).collect()
    }
    assert jac_shared == jac_reg and len(jac_shared) > 0
    assert con_shared == con_reg and len(con_shared) > 0


def test_span_surface_matches_registered_queries(spark, pipe):
    from music_database_spark.registry import load_all

    reg = load_all()
    api_mask = {
        r["doc_id"]: (r["n_sources"], r["n_raw_spans"], r["n_spans_merged"], r["n_tokens_masked"])
        for r in pipe.span_mask_budget().collect()
    }
    reg_mask = {
        r["doc_id"]: (r["n_sources"], r["n_raw_spans"], r["n_spans_merged"], r["n_tokens_masked"])
        for r in reg["x_span_mask"].build(spark, SF_SMOKE).collect()
    }
    assert api_mask == reg_mask and len(api_mask) > 0
    api_pairs = {
        (r["id_a"], r["id_b"]): r["span"]
        for r in pipe.substring_spans().groupBy("id_a", "id_b").agg(
            F.max("span").alias("span")
        ).collect()
    }
    reg_pairs = {
        (r["id_a"], r["id_b"]): r["longest_span"]
        for r in reg["x_substring_dedup"].build(spark, SF_SMOKE).collect()
        if r["longest_span"] >= 20
    }
    # the registered query reports pairs whose LONGEST span >= 20 (over
    # all runs); the API frame filters per-run — every API pair's max run
    # must agree with the registered pair's longest span
    for k, v in api_pairs.items():
        assert reg_pairs[k] == v


def test_mix_weights_and_token_budget_match_registered_queries(spark):
    from music_database_spark.corpus import CorpusPipeline
    from music_database_spark.operators.pipeline import (
        BUDGET_CAP_PCT,
        TOKEN_BUDGET,
    )
    from music_database_spark.registry import load_all
    from music_database_spark.sources.loader import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    pipe = CorpusPipeline(docs)
    reg = load_all()

    got_w = {r["lang"]: r.asDict() for r in pipe.mix_weights().collect()}
    exp_w = {
        r["lang"]: r.asDict()
        for r in reg["x_temperature_sample"].build(spark, sf).collect()
    }
    for lang, e in exp_w.items():
        g = got_w[lang]
        for col in ("n_docs", "base_ppm", "weight_temp", "boost"):
            assert g[col] == e[col]

    got_b = {
        r["source"]: r.asDict()
        for r in pipe.token_budget(TOKEN_BUDGET, BUDGET_CAP_PCT).collect()
    }
    exp_b = {
        r["source"]: r.asDict() for r in reg["x_token_budget"].build(spark, sf).collect()
    }
    for src, e in exp_b.items():
        g = got_b[src]
        assert g["tokens_avail"] == e["tokens_avail"]
        assert g["alloc_tokens"] == e["alloc_tokens"]
        assert g["is_capped"] == e["is_capped"]


def test_group_sample_matches_registered_query(spark, pipe):
    from music_database_spark.registry import REGISTRY
    import music_database_spark.operators.pipeline  # noqa: F401
    from music_database_spark.operators.pipeline import GROUP_SAMPLE_K

    got = {
        (r["lang"], r["source"], r["sample_rank"]): r["doc_id"]
        for r in pipe.group_sample(k=GROUP_SAMPLE_K).collect()
    }
    want = {
        (r["lang"], r["source"], r["sample_rank"]): r["doc_id"]
        for r in REGISTRY["x_group_sample"].build(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert max(rank for (_, _, rank) in got) <= GROUP_SAMPLE_K


def test_gopher_flags_match_registered_query(spark, pipe):
    """Per-doc gopher_flags aggregated per lang must equal
    x_gopher_rules' registered per-lang counts."""
    from music_database_spark.registry import load_all

    reg = {
        r["lang"]: r.asDict()
        for r in load_all()["x_gopher_rules"].build(spark, SF_SMOKE).collect()
    }
    api = {
        r["lang"]: r.asDict()
        for r in pipe.gopher_flags()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(~F.col("ok_word_count"), 1).otherwise(0)).alias("f_wc"),
            F.sum(F.when(~F.col("ok_mean_word_len"), 1).otherwise(0)).alias("f_mwl"),
            F.sum(F.when(~F.col("ok_alpha_frac"), 1).otherwise(0)).alias("f_af"),
            F.sum(F.when(~F.col("ok_stopwords"), 1).otherwise(0)).alias("f_st"),
            F.sum(F.when(F.col("pass_gopher"), 1).otherwise(0)).alias("p_all"),
        )
        .collect()
    }
    for lang, r in reg.items():
        a = api[lang]
        assert a["n_docs"] == r["n_docs"]
        assert a["f_wc"] == r["fail_word_count"]
        assert a["f_mwl"] == r["fail_mean_word_len"]
        assert a["f_af"] == r["fail_alpha_frac"]
        assert a["f_st"] == r["fail_stopwords"]
        assert a["p_all"] == r["n_pass_all"]


def test_contamination_fraction_matches_registered_query(spark, docs, pipe):
    """contamination_fraction against the registered benchmark subset
    (doc_id % 50 == 0) must reproduce x_contamination_overlap's per-lang
    dirty counts and averages."""
    from music_database_spark.corpus import CorpusPipeline
    from music_database_spark.operators.pipeline import BENCH_MOD, CONTAM_FRAC_MIN
    from music_database_spark.registry import load_all

    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    out = (
        CorpusPipeline(corpus)
        .contamination_fraction(bench)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("n_hit").cast("double") / F.col("n_total") >= CONTAM_FRAC_MIN, 1
                ).otherwise(0)
            ).alias("n_dirty"),
        )
        .collect()
    )
    reg = {
        r["lang"]: r.asDict()
        for r in load_all()["x_contamination_overlap"].build(spark, SF_SMOKE).collect()
    }
    for r in out:
        assert r["n_docs"] == reg[r["lang"]]["n_docs"]
        assert r["n_dirty"] == reg[r["lang"]]["n_dirty"]


def test_pii_flags_luhn_agrees_with_scan_operator(spark, docs):
    """pii_flags over text carrying x_pii_scan's injected cards must
    reproduce its per-lang checksum-valid counts."""
    from music_database_spark.corpus import CorpusPipeline
    from music_database_spark.operators.pipeline import PII_CARD_MOD
    from music_database_spark.registry import load_all

    card_tail = F.lpad(((F.col("doc_id") * 37) % F.lit(10**16)).cast("string"), 16, "0")
    aug = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % PII_CARD_MOD == 0, F.concat(F.lit(" card "), card_tail)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    api = {
        r["lang"]: r.asDict()
        for r in CorpusPipeline(aug)
        .pii_flags()
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("pii_card") != "", 1).otherwise(0)).alias("n_cards"),
            F.sum(F.when(F.col("pii_card_luhn_valid"), 1).otherwise(0)).alias("n_valid"),
        )
        .collect()
    }
    reg = {
        r["lang"]: r.asDict()
        for r in load_all()["x_pii_scan"].build(spark, SF_SMOKE).collect()
    }
    for lang, r in reg.items():
        assert api[lang]["n_cards"] == r["n_cards"]
        assert api[lang]["n_valid"] == r["n_cards_luhn_valid"]


def test_length_mixture_matches_registered_query(spark, pipe):
    from music_database_spark.registry import load_all

    reg = {
        (r["lang"], r["bucket"]): r.asDict()
        for r in load_all()["x_length_mixture"].build(spark, SF_SMOKE).collect()
    }
    api = {
        (r["lang"], r["bucket"]): r.asDict() for r in pipe.length_mixture().collect()
    }
    assert set(api) == set(reg)
    for k, r in reg.items():
        assert api[k]["n_docs"] == r["n_docs"]
        assert api[k]["n_tokens"] == r["n_tokens"]
        assert api[k]["uniform_weight"] == pytest.approx(r["uniform_weight"], abs=2e-6)


def test_dsir_weights_match_registered_query(spark, pipe):
    import math

    from music_database_spark.registry import load_all

    reg = {
        r["lang"]: r.asDict()
        for r in load_all()["x_dsir_weights"].build(spark, SF_SMOKE).collect()
    }
    per_doc = pipe.dsir_weights(F.col("lang") == "en").collect()
    assert len(per_doc) == sum(r["n_docs"] for r in reg.values())

    docs_by_lang = {}
    for r in (
        pipe.docs.select("doc_id", "lang").collect()
    ):
        docs_by_lang[r["doc_id"]] = r["lang"]
    agg: dict[str, list] = {}
    for r in per_doc:
        agg.setdefault(docs_by_lang[r["doc_id"]], []).append(r["dsir_weight"])
    for lang, ws in agg.items():
        assert len(ws) == reg[lang]["n_docs"]
        assert sum(1 for w in ws if w > 0) == reg[lang]["n_selected"]
        assert math.fsum(ws) / len(ws) == pytest.approx(
            reg[lang]["avg_weight"], abs=2e-6
        )
    # the target slice must score most target-like on average
    means = {lang: math.fsum(ws) / len(ws) for lang, ws in agg.items()}
    assert max(means, key=means.get) == "en"
    # is_target marks exactly the en docs
    for r in per_doc:
        assert r["is_target"] == (docs_by_lang[r["doc_id"]] == "en")


def test_padding_waste_stage_matches_registered_query(spark, pipe):
    """CorpusPipeline.padding_waste at the defaults must equal
    x_padding_waste's registered per-lang rows exactly (all-integer
    columns plus one rounded fraction)."""
    from music_database_spark.registry import load_all

    reg = {
        r["lang"]: r.asDict()
        for r in load_all()["x_padding_waste"].build(spark, SF_SMOKE).collect()
    }
    api = {r["lang"]: r.asDict() for r in pipe.padding_waste().collect()}
    assert set(api) == set(reg)
    for lang, r in reg.items():
        assert api[lang] == r


def test_padding_waste_single_stream_has_no_shard_overhead(spark, pipe):
    """With shards=1 the parallelism penalty is zero by construction:
    n_windows == ceil(total/window) and shard_overhead_windows == 0."""
    out = pipe.padding_waste(shards=1).collect()
    assert out
    for r in out:
        assert r["n_streams"] == 1
        assert r["shard_overhead_windows"] == 0
        assert r["n_windows"] == -(-r["total_tokens"] // 2048)
        assert 0 <= r["padding_tokens"] < 2048


def test_contamination_fraction_irregular_whitespace_matches_hand_shingles(spark):
    """Irregular whitespace pin: the method must shingle the UNFILTERED
    split (x_contamination_overlap's convention — repeated spaces yield
    empty tokens inside shingles), checked against a hand recompute on a
    double-spaced corpus where filtered and unfiltered shingles differ."""
    import hashlib

    from music_database_spark.corpus import CorpusPipeline

    rows = [(0, "a  b c d"), (1, "a b c d"), (2, "x  y")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(99, "a  b c d")], "doc_id long, text string")

    def hand(text: str, ngram: int = 4) -> set[str]:
        toks = text.split(" ")  # unfiltered: '' tokens survive
        n = max(len(toks) - ngram + 1, 1)
        return {
            hashlib.md5(" ".join(toks[i : i + ngram]).encode()).hexdigest()
            for i in range(n)
        }

    bench_set = hand("a  b c d")
    out = {
        r["doc_id"]: r.asDict()
        for r in CorpusPipeline(docs).contamination_fraction(bench).collect()
    }
    for doc_id, text in rows:
        shingles = hand(text)
        hits = len(shingles & bench_set)
        assert out[doc_id]["n_total"] == len(shingles)
        assert out[doc_id]["n_hit"] == hits
        assert out[doc_id]["overlap_frac"] == pytest.approx(
            round(hits / len(shingles), 6), abs=1e-9
        )
    # the double-spaced doc is a full hit, its single-spaced variant is not
    assert out[0]["overlap_frac"] == 1.0
    assert out[1]["overlap_frac"] < 1.0


def test_redact_matches_registered_query(spark, docs):
    """redact over x_redact's injected text must reproduce that query's
    per-lang redacted length."""
    from music_database_spark.corpus import CorpusPipeline
    from music_database_spark.registry import load_all

    aug = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-01"),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("text"),
    )
    api = {
        r["lang"]: r["n"]
        for r in CorpusPipeline(aug)
        .redact()
        .groupBy("lang")
        .agg(F.sum(F.length("text_redacted")).cast("bigint").alias("n"))
        .collect()
    }
    reg = {
        r["lang"]: r["sum_len_after"]
        for r in load_all()["x_redact"].build(spark, SF_SMOKE).collect()
    }
    assert api == reg and len(reg) > 0


def test_bm25_matches_registered_search(spark, docs, pipe):
    """bm25 given x_bm25_search's data-derived term set (the BM25_NQ
    highest collection-frequency terms with df in [5%, 50%] of docs)
    returns that query's ranked rows."""
    from music_database_spark.operators.textops import BM25_NQ, BM25_TOPK
    from music_database_spark.registry import load_all

    n = docs.count()
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.expr("filter(split(text, ' '), t -> t != '')")).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    terms = [
        r["term"]
        for r in tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
        .filter((F.col("df") * 20 >= n) & (F.col("df") * 2 <= n))
        .orderBy(F.desc("cf"), "term")
        .limit(BM25_NQ)
        .collect()
    ]
    assert 0 < len(terms) <= BM25_NQ
    api = [tuple(r) for r in pipe.bm25(terms, top_k=BM25_TOPK).collect()]
    reg = [tuple(r) for r in load_all()["x_bm25_search"].build(spark, SF_SMOKE).collect()]
    assert api == reg and len(reg) > 0


def test_pack_sequences_matches_registered_packing(spark, docs):
    """pack_sequences at x_seq_packing's window (2048) and shard count (8),
    run per lang (the registered query packs per (lang, shard) stream),
    returns that query's bins."""
    from music_database_spark.corpus import CorpusPipeline
    from music_database_spark.registry import load_all

    reg = {
        (r["lang"], r["shard"], r["bin"]): (r["n_docs"], r["n_tokens"])
        for r in load_all()["x_seq_packing"].build(spark, SF_SMOKE).collect()
    }
    langs = sorted({lang for lang, _, _ in reg})
    api = {}
    for lang in langs:
        packed = CorpusPipeline(docs.filter(F.col("lang") == lang)).pack_sequences(
            window_tokens=2048, shards=8
        )
        n_tok = F.size(F.expr("filter(split(text, ' '), x -> x != '')"))
        for r in (
            packed.groupBy("shard", "bin")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(n_tok).cast("bigint").alias("t"))
            .collect()
        ):
            api[(lang, r["shard"], r["bin"])] = (r["n"], r["t"])
    assert api == reg and len(reg) > 0
