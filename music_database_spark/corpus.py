"""CorpusPipeline — the user-facing API for the training-data pipeline
operators, parameterized over ANY documents DataFrame (id + text), not
just the driver's parquet table.

Every method calls the spine of the registered query it names: the
function that query itself runs over the driver's tables (operators/
pipeline.py, dedup.py, quality.py, textops.py, spans.py,
corpus_health.py). A method at most renames, drops or casts columns at
its edge; this file holds no plan logic (no groupBy, window or join —
tests/test_tools_gates.py guards it). Agreement between the two
surfaces is pinned in tests/test_corpus_api.py.

Every method returns a lazy DataFrame — compose freely, nothing executes
until an action. The scale notes on the registered queries apply
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import corpus_health, dedup, pipeline, quality, spans, textops


class CorpusPipeline:
    """Fluent corpus-preparation API over a documents DataFrame.

    >>> pipe = CorpusPipeline(docs)              # docs: (doc_id, text, ...)
    >>> clean = pipe.exact_dedup()
    >>> pairs = CorpusPipeline(clean).near_dup_pairs(threshold=0.6)
    >>> train = pipe.with_split().filter("split = 'train'")
    """

    def __init__(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"):
        self.docs = docs
        self.id_col = id_col
        self.text_col = text_col

    # ---- deduplication ----------------------------------------------------

    def exact_dedup(self) -> DataFrame:
        """Keep the lowest id per identical text (x_dedup_exact); the
        shuffle key is the 16-byte md5 digest, never the document body."""
        return dedup.exact_dedup(self.docs, self.id_col, self.text_col).drop("rn")

    def near_dup_pairs(self, threshold: float = 0.6) -> DataFrame:
        """MinHash-LSH candidate pairs verified by exact shingle-Jaccard
        >= threshold (x_dedup_minhash). Banded buckets with a hot-bucket
        cap — candidates stay ~linear in corpus size. Returns (id_a, id_b,
        jaccard)."""
        return dedup.minhash_pairs(self.docs, self.id_col, self.text_col, threshold)

    def shingle_index(self):
        """Materialize the rare-shingle inverted index ONCE (persisted)
        and return the shared (id_a, id_b, inter, n_a, n_b) pair-stats
        frame every shingle-based verify consumes. Cached on the
        pipeline instance, so

        >>> stats = pipe.shingle_index()
        >>> jac = pipe.jaccard_pairs()          # both ride the same
        >>> con = pipe.containment_pairs()      # materialization

        builds the index and the candidate self-join exactly once — the
        production contract the x_dedup_containment docstring promises
        (at 100 TB the index build IS the dominant cost; verifying a
        second similarity predicate off the shared frame is marginal).
        The instance owns this persist, not session.release(): it lives
        as long as the pipeline. Pinned shared-vs-separate timing lives
        in PLANS.md."""
        if getattr(self, "_shingle_stats", None) is None:
            filtered, sizes = dedup.rare_shingle_index(self.docs, self.id_col, self.text_col)
            self._shingle_stats = dedup.index_pair_stats(filtered, sizes).persist()
        return self._shingle_stats

    def jaccard_pairs(self, threshold: float = 0.5) -> DataFrame:
        """Exact-Jaccard near-dup pairs off the shared shingle index —
        same output as the registered x_dedup_ngram_jaccard (pinned)."""
        return dedup.jaccard_from_stats(self.shingle_index(), threshold)

    def containment_pairs(self) -> DataFrame:
        """Broder-containment pairs off the shared shingle index — same
        output as the registered x_dedup_containment (pinned)."""
        return dedup.containment_from_stats(self.shingle_index())

    def substring_spans(self, min_tokens: int | None = None) -> DataFrame:
        """Aligned shared-token runs >= min_tokens with positions on both
        sides (the exact-substring dedup signal; x_substring_dedup /
        x_span_mask). Returns (id_a, id_b, start_a, start_b, span)."""
        return spans.substring_span_runs(
            self.docs,
            self.id_col,
            self.text_col,
            min_span_tokens=spans.SPAN_MIN_TOKENS if min_tokens is None else min_tokens,
        )

    def span_mask_budget(self) -> DataFrame:
        """Per-doc mask budget after merging overlapping shared-span
        intervals on the losing side (x_span_mask): (doc_id, n_sources,
        n_raw_spans, n_spans_merged, n_tokens_masked)."""
        return spans.mask_budget_from_runs(self.substring_spans(), self.id_col)

    # ---- splits and sampling ----------------------------------------------

    def with_split(self, train: int = 80, validation: int = 10) -> DataFrame:
        """Deterministic md5-bucket split column (x_hash_split): content-
        and order-independent, so membership never moves as the corpus
        grows."""
        return self.docs.withColumn("split", pipeline.hash_split(self.id_col, train, validation))

    def sample(self, rate_pct: int = 10, salt: str = "strat:") -> DataFrame:
        """Exact-rate deterministic sample on x_stratified_sample's salted
        md5 bucket (any grouping is stratified for free because
        selection is per-id)."""
        return self.docs.filter(pipeline.md5_bucket(self.id_col, salt) < rate_pct)

    def group_sample(
        self, k: int = 5, by: tuple[str, ...] = ("lang", "source"), salt: str = "gsamp:"
    ) -> DataFrame:
        """Exact-quota min-wise per-stratum sample (x_group_sample): the k
        smallest salted-md5 docs from EVERY `by` group — the audit
        sampler that never leaves a thin stratum empty the way a
        Bernoulli rate can. Adds `sample_rank` (1..k per group)."""
        return pipeline.group_sample(self.docs, self.docs.columns, list(by), k, self.id_col, salt)

    # ---- quality ----------------------------------------------------------

    def with_quality_flags(self) -> DataFrame:
        """Gopher-style repetition flags (x_repetition_filter): adds n_tok
        and `dropped`, true when the top token exceeds 30% of tokens or
        the duplicate-bigram fraction exceeds 20%."""
        flags = pipeline.repetition_flags(self.docs, self.docs.columns, self.text_col)
        return flags.drop("max_cnt", "n_bi", "n_dup")

    def redact(self, out_col: str = "text_redacted") -> DataFrame:
        """Replace email/phone patterns with typed placeholders
        (x_redact's expression; patterns mean the same in Java regex and
        RE2)."""
        return self.docs.withColumn(out_col, pipeline.redacted(self.text_col))

    def decontaminate(
        self, bench: DataFrame, ngram: int = 4, min_overlap: int = 5
    ) -> DataFrame:
        """Flag documents sharing >= min_overlap distinct ngram-word
        shingles with a benchmark corpus (x_decontaminate against ANY
        user-supplied benchmark frame with the same id/text columns).
        Returns (id, n_overlap, contaminated) for every doc with any
        overlap. The benchmark shingle-digest set broadcasts; swap in the
        Bloom prefilter (x_bloom_decontaminate) when it outgrows the
        broadcast threshold."""
        return pipeline.overlap_flags(
            pipeline.shingle_digests(bench, self.id_col, self.text_col, ngram=ngram),
            pipeline.shingle_digests(self.docs, self.id_col, self.text_col, ngram=ngram),
            self.id_col,
            min_overlap,
        )

    def lm_score(self, train: DataFrame | None = None) -> DataFrame:
        """Bigram-LM negative log-likelihood per document
        (x_ngram_lm_score). With train=None the corpus's md5 train split
        (bucket < 80) trains the counts and the held-out buckets are
        scored; with an explicit train frame, every doc of this corpus is
        scored against it. Returns (id, n_bigrams, nll); docs with < 2
        tokens are skipped."""
        return quality.ngram_lm_nll(self.docs, self.id_col, self.text_col, train)

    def weighted_sample(
        self, k: int, weight_col: str, group_col: str | None = None
    ) -> DataFrame:
        """Efraimidis-Spirakis weighted sample without replacement
        (x_weighted_sample): keep the k docs (per group when group_col is
        given) with the largest ln(u)/w keys, u drawn deterministically
        from the id's md5 — reproducible across runs and partitionings.
        Weights must be > 0 (the E-S key is undefined otherwise);
        non-positive-weight docs are excluded up front rather than
        silently mis-sorting on a sign-flipped or divide-by-zero key.
        """
        docs = self.docs.filter(F.col(weight_col) > 0)
        return pipeline.es_sample(
            docs, docs.columns, k, weight_col, group_col, self.id_col
        ).drop("skey", "rnk")

    def winnow_fingerprints(self) -> DataFrame:
        """Winnowed rolling-hash fingerprint set per doc
        (x_winnow_fingerprint): (id, n_kgrams, fps). Zero shuffle — the
        whole MOSS selection runs in the array domain."""
        return textops._winnow_fps(self.docs, self.id_col, self.text_col).select(
            F.col("doc_id").alias(self.id_col), "n_kgrams", "fps"
        )

    def winnow_candidates(
        self, max_fp_freq: int = 10, min_shared: int = 2
    ) -> DataFrame:
        """Near-dup candidate pairs sharing >= min_shared rare winnow
        fingerprints (x_winnow_candidates): (id_a, id_b, n_shared).
        Guaranteed to surface any pair sharing a run of
        >= WINNOW_W + WINNOW_K - 1 tokens, unlike MinHash's
        probabilistic recall; the fingerprint index is frequency-capped
        so no bucket fans out more than max_fp_freq^2/2 pairs."""
        return textops.winnow_candidate_pairs(
            self.docs, self.id_col, self.text_col, max_fp_freq, min_shared
        )

    def bm25(
        self, query_terms: list[str], k1: float = 1.2, b: float = 0.75, top_k: int = 20
    ) -> DataFrame:
        """BM25 ranked retrieval for a user-supplied query-term list
        (x_bm25_search with external terms). Returns the top_k
        (id, n_terms, score, rnk) by (score DESC, id)."""
        per_doc = textops.bm25_scores(
            self.docs, self.id_col, self.text_col, query_terms, k1, b
        )
        return textops.bm25_top(per_doc, top_k, self.id_col)

    def cluster_reps(
        self, threshold: float = 0.6, algorithm: str = "star"
    ) -> DataFrame:
        """Resolve near-dup pairs into duplicate clusters: (id, cluster_rep)
        for every doc in any near-dup pair, labeled with its component's
        min id — the keep-one decision step after near_dup_pairs.
        algorithm='star' (default) uses large-star/small-star (O(log n)
        rounds regardless of component diameter — x_dedup_clusters_star);
        'label' uses min-label propagation (O(diameter) rounds — fewer
        shuffles per round on the tiny-cluster graphs near-dup sets
        actually produce; x_dedup_clusters). Identical output either way
        (pinned in tests)."""
        pairs = self.near_dup_pairs(threshold).select("id_a", "id_b")
        fn = dedup.star_components if algorithm == "star" else dedup.label_propagation_components
        labels, _rounds = fn(pairs)
        return labels.select(
            F.col("node").alias(self.id_col), F.col("label").alias("cluster_rep")
        ).orderBy(self.id_col)

    def diff(self, other: DataFrame) -> DataFrame:
        """Snapshot diff against another documents frame (same id/text
        columns): per change-class counts of added / removed / changed /
        unchanged docs by content digest (x_snapshot_diff, self = old
        snapshot, other = new). Both sides project to (id, md5) before
        the full-outer join — digests shuffle, never bodies. Returns
        (change, n, example_doc)."""
        return pipeline.snapshot_diff(
            self.docs, other, [], self.id_col, self.text_col
        ).orderBy("change")

    # ---- batch preparation ------------------------------------------------

    def pack_sequences(self, window_tokens: int = 2048, shards: int = 8) -> DataFrame:
        """Greedy sequence packing into context windows, parallel per
        (shard) stream — x_seq_packing's packing with the shard key from
        the stable id and no per-lang streams. Adds (shard, bin)."""
        return pipeline.packed_bins(
            self.docs, self.docs.columns, [], self.id_col, self.text_col, window_tokens, shards
        ).drop("n_tok", "cum")

    def padding_waste(
        self, by: str = "lang", window_tokens: int = 2048, shards: int = 8
    ) -> DataFrame:
        """Padding-waste audit of the pack_sequences layout (x_padding_waste
        at the defaults): per `by` group, parallel-stream window count,
        padding tokens / fraction, and the windows attributable purely to
        stream parallelism. Exact integers; one (by, shard) partial agg,
        no window function."""
        return pipeline.padding_waste(
            self.docs, by, self.id_col, self.text_col, window_tokens, shards
        ).orderBy(by)

    # ---- mix planning -----------------------------------------------------

    def mix_weights(self, by: str = "lang", tau_sqrt: bool = True) -> DataFrame:
        """Temperature-scaled sampling weights per group
        (x_temperature_sample, tau=0.5 via exact sqrt): (by, n_docs,
        base_ppm, weight_temp, boost). Feed the boost into
        `weighted_sample` to apply the plan."""
        return pipeline.temperature_weights(self.docs, by, tau_sqrt)

    def token_budget(
        self, budget: int, cap_pct: int = 30, by: str = "source"
    ) -> DataFrame:
        """Allocate a token budget across `by` groups: proportional share,
        per-group cap, one waterfilling redistribution round
        (x_token_budget — integer-exact, never over budget). Returns
        (group, tokens_avail, alloc_tokens, is_capped)."""
        return pipeline.token_allocation(
            self.docs, by, budget, cap_pct, self.text_col
        ).drop("fill_ppm")

    # ---- round-6 additions -----------------------------------------------

    def pii_flags(self) -> DataFrame:
        """Per-doc PII detection columns (x_pii_scan's expressions over the
        caller's own text, WITHOUT the synthetic injection): the first
        card-shaped 16-digit candidate, whether it passes the Luhn
        checksum (the release-gate signal that separates real card leaks
        from order ids), and the IPv4 literal count. Map-only."""
        return (
            self.docs.withColumn("pii_card", pipeline.card_candidate(self.text_col))
            .withColumn("pii_card_luhn_valid", pipeline.luhn_valid_card(F.col("pii_card")))
            .withColumn("pii_n_ips", pipeline.ipv4_count(self.text_col))
        )

    def gopher_flags(self) -> DataFrame:
        """Per-doc Gopher-rule booleans (x_gopher_rules): word count
        bounds, mean word length 3-10, alphabetic-word fraction, stopword
        presence, plus the conjunctive pass_gopher. One scan of HOF
        array expressions; thresholds are the registered constants."""
        fails = quality.gopher_fails()
        names = ("ok_word_count", "ok_mean_word_len", "ok_alpha_frac", "ok_stopwords")
        return quality.gopher_metrics(self.docs, self.docs.columns, self.text_col).select(
            *self.docs.columns,
            *[(~fail).alias(name) for fail, name in zip(fails, names)],
            (~(fails[0] | fails[1] | fails[2] | fails[3])).alias("pass_gopher"),
        )

    def contamination_fraction(self, bench: DataFrame, ngram: int = 4) -> DataFrame:
        """Per-doc benchmark-overlap FRACTION (x_contamination_overlap
        against ANY user benchmark frame): the share of this doc's
        distinct ngram-word shingles that appear in the benchmark shingle
        set — length-fair, unlike decontaminate()'s absolute count.
        Returns (id, n_total, n_hit, overlap_frac) for EVERY doc
        (zero-overlap docs included). The benchmark digest set
        broadcasts."""
        return pipeline.overlap_counts(
            pipeline.shingle_digests(bench, self.id_col, self.text_col, ngram=ngram),
            pipeline.shingle_digests(self.docs, self.id_col, self.text_col, ngram=ngram),
            [self.id_col],
        ).withColumn("overlap_frac", F.round(pipeline.overlap_fraction(), 6))

    def length_mixture(self, by: str = "lang") -> DataFrame:
        """Token-length-bucket x group histogram with uniform-target
        reweighting factors (x_length_mixture): weight > 1 marks
        underrepresented cells to upsample. Fixed literal bucket edges
        keep the scan map-only; the grand total broadcasts."""
        return pipeline.length_mixture(self.docs, by, self.text_col)

    def dsir_weights(self, is_target, buckets: int = 64) -> DataFrame:
        """Per-doc DSIR importance weight (x_dsir_weights against ANY
        caller-defined target slice): hashed word-unigram features,
        weight = sum_b c_b * ln(p_target(b) / p_raw(b)) with Laplace +1
        smoothing. `is_target` is a boolean Column marking the
        target-domain rows (e.g. F.col('lang') == 'en'). Returns
        (id, is_target, dsir_weight) for every doc; rank or threshold the
        weight downstream to resample."""
        docs = self.docs.withColumn("is_target", is_target)
        return pipeline.dsir_doc_weights(
            docs, "is_target", F.col("is_target"), self.id_col, self.text_col, buckets
        ).select(self.id_col, "is_target", F.col("w").cast("double").alias("dsir_weight"))

    # ---- corpus-health metrics (round 7) ---------------------------------

    def char_entropy(self, out_col: str = "char_entropy") -> DataFrame:
        """docs + per-document character-entropy column (bits; 6-dp
        decimal fold). Same expression as x_char_entropy — filter on it
        against the ENTROPY_LOW/HIGH gates to drop degenerate or
        noise-like text. Map-only."""
        return self.docs.withColumn(
            out_col, corpus_health.char_entropy_col(self.text_col).cast("double")
        )

    def lexicon_score(
        self,
        lexicon: tuple[tuple[str, int], ...] | None = None,
        out_col: str = "lexicon_score",
    ) -> DataFrame:
        """docs + weighted lexicon-hit score (x_toxicity_lexicon's
        expression over a caller-supplied policy lexicon). Map-only; the
        lexicon compiles into one CASE expression — no join."""
        return self.docs.withColumn(
            out_col,
            corpus_health.lexicon_score_col(
                self.text_col, lexicon or corpus_health.TOX_LEXICON
            ),
        )

    def ngram_novelty(self, ngram: int = 3) -> DataFrame:
        """(id, n_ngrams, n_novel) per document — the x_ngram_novelty
        first-occurrence index over ANY corpus; novelty fraction =
        n_novel / n_ngrams. One digest-keyed partial agg, one id-keyed
        join."""
        return corpus_health.novelty_per_doc(self.docs, self.id_col, self.text_col, ngram)

    def stratified_split(
        self,
        strata_cols: list[str],
        train: float = 0.8,
        val: float = 0.9,
        salt: str = "split:",
    ) -> DataFrame:
        """docs + (split, n_stratum) with EXACT per-stratum quotas
        (x_stratified_split over caller-defined strata): ranked md5 cut
        at floor(train·n)/floor(val·n), deterministic from ids alone. Use
        instead of with_split() when every stratum's proportions must
        hold to within one document."""
        return corpus_health.stratified_assign(
            self.docs, strata_cols, self.id_col, train, val, salt
        )

    def keep_best_dedup(self) -> DataFrame:
        """Canonical-text dedup keeping the variant with the LONGEST raw
        text per group (ties: lowest id) — x_dedup_keep_best's selection
        rule, returning the surviving rows. Shuffle key is the 16-byte
        canonical digest."""
        return (
            corpus_health.keep_best_rank(self.docs, self.id_col, self.text_col)
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
