"""CorpusPipeline — the user-facing API for the training-data pipeline
operators, parameterized over ANY documents DataFrame (id + text), not
just the driver's parquet table.

The registered driver queries (operators/pipeline.py, operators/dedup.py,
operators/textops.py) are the oracle-checked instantiations of these same
semantics over /root/testdata; this facade is what a user calls on their
own corpus. Agreement between the two surfaces is pinned in
tests/test_corpus_api.py.

Every method returns a lazy DataFrame — compose freely, nothing executes
until an action. All steps are Catalyst expression pipelines (map-only or
digest-keyed shuffles); the scale notes on the registered queries apply
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .operators.dedup import minhash_pairs
from .session import cached


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

    def _toks(self):
        return F.expr(f"filter(split({self.text_col}, ' '), t -> t != '')")

    # ---- deduplication ----------------------------------------------------

    def exact_dedup(self) -> DataFrame:
        """Keep the lowest id per identical text; the shuffle key is the
        16-byte md5 digest, never the document body."""
        w = W.partitionBy(F.md5(self.text_col)).orderBy(self.id_col)
        return (
            self.docs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def near_dup_pairs(self, threshold: float = 0.6) -> DataFrame:
        """MinHash-LSH candidate pairs verified by exact shingle-Jaccard
        >= threshold. Banded buckets with a hot-bucket cap — candidates
        stay ~linear in corpus size (same spine as the registered
        x_dedup_minhash query). Returns (id_a, id_b, jaccard)."""
        return minhash_pairs(self.docs, self.id_col, self.text_col, threshold)

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
        Pinned shared-vs-separate timing lives in PLANS.md."""
        if getattr(self, "_shingle_stats", None) is None:
            from .operators.dedup import index_pair_stats, rare_shingle_index

            filtered, sizes = rare_shingle_index(self.docs, self.id_col, self.text_col)
            self._shingle_stats = index_pair_stats(filtered, sizes).persist()
        return self._shingle_stats

    def jaccard_pairs(self, threshold: float = 0.5) -> DataFrame:
        """Exact-Jaccard near-dup pairs off the shared shingle index —
        same output as the registered x_dedup_ngram_jaccard (pinned)."""
        from .operators.dedup import jaccard_from_stats

        return jaccard_from_stats(self.shingle_index(), threshold)

    def containment_pairs(self) -> DataFrame:
        """Broder-containment pairs off the shared shingle index — same
        output as the registered x_dedup_containment (pinned)."""
        from .operators.dedup import containment_from_stats

        return containment_from_stats(self.shingle_index())

    def substring_spans(self, min_tokens: int | None = None) -> DataFrame:
        """Aligned shared-token runs >= min_tokens with positions on both
        sides (the exact-substring dedup signal; x_substring_dedup /
        x_span_mask semantics). Returns (id_a, id_b, start_a, start_b,
        span)."""
        from .operators.spans import SPAN_MIN_TOKENS, substring_span_runs

        return substring_span_runs(
            self.docs,
            self.id_col,
            self.text_col,
            min_span_tokens=SPAN_MIN_TOKENS if min_tokens is None else min_tokens,
        )

    def span_mask_budget(self) -> DataFrame:
        """Per-doc mask budget after merging overlapping shared-span
        intervals on the losing side (x_span_mask semantics): (doc_id,
        n_sources, n_raw_spans, n_spans_merged, n_tokens_masked)."""
        from .operators.spans import mask_budget_from_runs

        return mask_budget_from_runs(self.substring_spans(), self.id_col)

    # ---- splits and sampling ----------------------------------------------

    def _bucket(self, salt: str = "") -> F.Column:
        key = (
            F.concat(F.lit(salt), F.col(self.id_col).cast("string"))
            if salt
            else F.col(self.id_col).cast("string")
        )
        return F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("int") % 100

    def with_split(self, train: int = 80, validation: int = 10) -> DataFrame:
        """Deterministic md5-bucket split column: content- and
        order-independent, so membership never moves as the corpus grows
        (semantics of the registered x_hash_split query)."""
        b = self._bucket()
        return self.docs.withColumn(
            "split",
            F.when(b < train, "train")
            .when(b < train + validation, "validation")
            .otherwise("test"),
        )

    def sample(self, rate_pct: int = 10, salt: str = "strat:") -> DataFrame:
        """Exact-rate deterministic sample (any grouping is stratified for
        free because selection is per-id): x_stratified_sample semantics."""
        return self.docs.filter(self._bucket(salt) < rate_pct)

    def group_sample(
        self, k: int = 5, by: tuple[str, ...] = ("lang", "source"), salt: str = "gsamp:"
    ) -> DataFrame:
        """Exact-quota min-wise per-stratum sample (x_group_sample
        semantics): the k smallest salted-md5 docs from EVERY `by` group
        — the audit sampler that never leaves a thin stratum empty the
        way a Bernoulli rate can. Adds `sample_rank` (1..k per group);
        Catalyst plans the rank<=k filter as WindowGroupLimit so map
        tasks keep k-row heaps before the stratum shuffle."""
        from pyspark.sql import Window as W

        hv = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(self.id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        rank = F.row_number().over(
            W.partitionBy(*by).orderBy(hv.asc(), F.col(self.id_col).asc())
        )
        return (
            self.docs.withColumn("sample_rank", rank.cast("bigint"))
            .filter(F.col("sample_rank") <= k)
        )

    # ---- quality ----------------------------------------------------------

    def with_quality_flags(self) -> DataFrame:
        """Gopher-style repetition flags (x_repetition_filter semantics):
        `dropped` is true when the top token exceeds 30% of tokens or the
        duplicate-bigram fraction exceeds 20%. Integer cross-multiplied
        thresholds, all row-local HOF work."""
        d = self.docs.withColumn("__toks", self._toks())
        d = d.withColumn(
            "__max_cnt",
            F.expr(
                "array_max(transform(array_distinct(__toks),"
                " u -> size(filter(__toks, t -> t = u))))"
            ),
        ).withColumn(
            "__bigrams",
            F.when(
                F.size("__toks") >= 2,
                F.expr(
                    "transform(sequence(1, size(__toks) - 1),"
                    " i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1)))"
                ),
            ).otherwise(F.expr("array()")),
        )
        return (
            d.withColumn("n_tok", F.size("__toks"))
            .withColumn("__n_bi", F.size("__bigrams"))
            .withColumn("__n_dup", F.size("__bigrams") - F.size(F.array_distinct("__bigrams")))
            .withColumn(
                "dropped",
                (F.col("__max_cnt") * 10 > F.col("n_tok") * 3)
                | (F.col("__n_dup") * 5 > F.col("__n_bi")),
            )
            .drop("__toks", "__max_cnt", "__bigrams", "__n_bi", "__n_dup")
        )

    def redact(self, out_col: str = "text_redacted") -> DataFrame:
        """Replace email/phone patterns with typed placeholders
        (x_redact's expressions; patterns mean the same in Java regex and
        RE2)."""
        return self.docs.withColumn(
            out_col,
            F.regexp_replace(
                F.regexp_replace(self.text_col, r"[a-z0-9]+@[a-z]+\.[a-z]+", "<EMAIL>"),
                r"[0-9]{3}-[0-9]+",
                "<PHONE>",
            ),
        )

    def decontaminate(
        self, bench: DataFrame, ngram: int = 4, min_overlap: int = 5
    ) -> DataFrame:
        """Flag documents sharing >= min_overlap distinct ngram-word
        shingles with a benchmark corpus (x_decontaminate semantics, but
        against ANY user-supplied benchmark frame with the same id/text
        columns). Returns (id, n_overlap, contaminated) for every doc
        with any overlap. The benchmark shingle-digest set broadcasts;
        swap in the Bloom prefilter (x_bloom_decontaminate) when it
        outgrows the broadcast threshold."""

        def shingles(d: DataFrame) -> DataFrame:
            toks = F.expr(f"filter(split({self.text_col}, ' '), t -> t != '')")
            n_sh = F.greatest(F.size(toks) - ngram + 1, F.lit(1))
            arr = F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, ngram))),
            )
            return d.select(
                F.col(self.id_col).alias("id"), F.explode(arr).alias("sh_hash")
            ).dropDuplicates(["id", "sh_hash"])

        bench_sh = shingles(bench).select("sh_hash").distinct()
        return (
            shingles(self.docs)
            .join(F.broadcast(bench_sh), "sh_hash")
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
            .select(
                F.col("id").alias(self.id_col),
                "n_overlap",
                (F.col("n_overlap") >= min_overlap).alias("contaminated"),
            )
        )

    def lm_score(self, train: DataFrame | None = None) -> DataFrame:
        """Bigram-LM negative log-likelihood per document
        (x_ngram_lm_score semantics). With train=None the corpus's md5
        train split (bucket < 80) trains the counts and the held-out
        buckets are scored; with an explicit train frame, every doc of
        this corpus is scored against it. Returns (id, n_bigrams, nll);
        docs with < 2 tokens are skipped."""
        if train is None:
            train = self.docs.filter(self._bucket() < 80)
            evaldf = self.docs.filter(self._bucket() >= 80)
        else:
            evaldf = self.docs
        # Materialize the token array ONCE per row and derive both the
        # unigram and bigram vocabularies from that single column — a
        # future change to _toks (e.g. lowercasing) then applies to both
        # sides of the score by construction (x_ngram_lm_score's 'ts'
        # pattern).
        # __has2 precomputes the ">= 2 tokens" guard as a cheap regex on
        # the raw text so the bigram branches never filter on
        # size(__ts) — which would inline the token HOF into an
        # interpreted Predicate (round-9 HOF-in-Filter lint class,
        # tools/planaudit.py lint (c)).
        has2 = F.col(self.text_col).rlike("[^ ] +[^ ]").alias("__has2")
        train_ts = train.withColumn("__ts", self._toks()).withColumn("__has2", has2)
        eval_ts = evaldf.withColumn("__ts", self._toks()).withColumn("__has2", has2)
        bigrams = F.expr(
            "transform(sequence(1, size(__ts) - 1),"
            " i -> struct(element_at(__ts, i) AS w1,"
            " element_at(__ts, i + 1) AS w2))"
        )
        uni = (
            train_ts.select(F.explode("__ts").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
        )
        vocab = uni.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
        big = (
            train_ts.filter("__has2")
            .select(F.explode(bigrams).alias("b"))
            .select("b.w1", "b.w2")
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
        )
        scored = (
            eval_ts.filter("__has2")
            .select(F.col(self.id_col).alias("id"), F.explode(bigrams).alias("b"))
            .select("id", "b.w1", "b.w2")
            .join(big, ["w1", "w2"], "left")
            .join(F.broadcast(uni.withColumnRenamed("w", "w1")), "w1", "left")
            .crossJoin(F.broadcast(vocab))
            .select(
                "id",
                (
                    F.log(F.coalesce(F.col("c2"), F.lit(0)) + 1)
                    - F.log(F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                ).alias("lp"),
            )
        )
        return (
            scored.groupBy("id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                F.sort_array(F.collect_list("lp")).alias("lps"),
            )
            .select(
                F.col("id").alias(self.id_col),
                "n_bigrams",
                F.round(
                    -F.aggregate("lps", F.lit(0.0), lambda acc, x: acc + x)
                    / F.col("n_bigrams"),
                    6,
                ).alias("nll"),
            )
        )

    def weighted_sample(
        self, k: int, weight_col: str, group_col: str | None = None
    ) -> DataFrame:
        """Efraimidis-Spirakis weighted sample without replacement
        (x_weighted_sample semantics): keep the k docs (per group when
        group_col is given) with the largest ln(u)/w keys, u drawn
        deterministically from the id's md5 — reproducible across runs
        and partitionings. Weights must be > 0 (the E-S key is undefined
        otherwise); non-positive-weight docs are excluded up front rather
        than silently mis-sorting on a sign-flipped or divide-by-zero key.
        """
        docs = self.docs.filter(F.col(weight_col) > 0)
        u = (
            F.conv(
                F.substring(F.md5(F.col(self.id_col).cast("string")), 1, 6), 16, 10
            ).cast("bigint")
            + 1
        ) / F.lit(16777217.0)
        skey = F.round(F.log(u) / F.col(weight_col), 12)
        # Global (ungrouped) selection funnels through one window
        # partition — fine for modest k, use a group_col at corpus scale
        # (the registered query groups by source).
        part = W.partitionBy(group_col) if group_col else W.partitionBy()
        w = part.orderBy(skey.desc(), self.id_col)
        return (
            docs.withColumn("__rnk", F.row_number().over(w))
            .filter(F.col("__rnk") <= k)
            .drop("__rnk")
        )

    def winnow_fingerprints(self) -> DataFrame:
        """Winnowed rolling-hash fingerprint set per doc
        (x_winnow_fingerprint semantics): (id, n_kgrams, fps). Zero
        shuffle — the whole MOSS selection runs in the array domain."""
        from .operators.textops import _winnow_fps

        return _winnow_fps(self.docs, self.id_col, self.text_col).select(
            F.col("doc_id").alias(self.id_col), "n_kgrams", "fps"
        )

    def winnow_candidates(
        self, max_fp_freq: int = 10, min_shared: int = 2
    ) -> DataFrame:
        """Near-dup candidate pairs sharing >= min_shared rare winnow
        fingerprints (x_winnow_candidates semantics): (id_a, id_b,
        n_shared). Guaranteed to surface any pair sharing a run of
        >= WINNOW_W + WINNOW_K - 1 tokens, unlike MinHash's
        probabilistic recall; the fingerprint index is frequency-capped
        so no bucket fans out more than max_fp_freq^2/2 pairs."""
        from .operators.textops import winnow_candidate_pairs

        return winnow_candidate_pairs(
            self.docs, self.id_col, self.text_col, max_fp_freq, min_shared
        )

    def bm25(
        self, query_terms: list[str], k1: float = 1.2, b: float = 0.75, top_k: int = 20
    ) -> DataFrame:
        """BM25 ranked retrieval for a user-supplied query-term list
        (x_bm25_search semantics with external terms). Returns the top_k
        (id, n_terms, score) by (score DESC, id)."""
        tok = self.docs.select(
            F.col(self.id_col).alias("id"), F.explode(self._toks()).alias("term")
        )
        tf = tok.groupBy("id", "term").agg(
            F.count(F.lit(1)).cast("bigint").alias("tf")
        )
        dl = tf.groupBy("id").agg(F.sum("tf").cast("bigint").alias("dl"))
        nd = self.docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        avgdl = dl.agg((F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"))
        qt = tf.sparkSession.createDataFrame(
            [(t,) for t in query_terms], ["term"]
        )
        df_t = (
            tf.join(F.broadcast(qt), "term")
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        )
        scored = (
            tf.join(F.broadcast(df_t), "term")
            .join(dl, "id")
            .crossJoin(F.broadcast(nd))
            .crossJoin(F.broadcast(avgdl))
            .select(
                "id",
                (
                    F.log(
                        (F.col("n").cast("double") - F.col("df").cast("double") + 0.5)
                        / (F.col("df").cast("double") + 0.5)
                        + 1.0
                    )
                    * (F.col("tf").cast("double") * (k1 + 1.0))
                    / (
                        F.col("tf").cast("double")
                        + k1
                        * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
                    )
                ).alias("s"),
            )
        )
        w = W.orderBy(F.desc("score"), "id")
        return (
            scored.groupBy("id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_terms"),
                F.round(
                    F.aggregate(
                        F.sort_array(F.collect_list("s")),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    6,
                ).alias("score"),
            )
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= top_k)
            .select(F.col("id").alias(self.id_col), "n_terms", "score", "rnk")
            .orderBy("rnk")
        )

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
        from .operators.dedup import label_propagation_components, star_components

        pairs = self.near_dup_pairs(threshold).select("id_a", "id_b")
        fn = star_components if algorithm == "star" else label_propagation_components
        labels, _rounds = fn(pairs)
        return labels.select(
            F.col("node").alias(self.id_col), F.col("label").alias("cluster_rep")
        ).orderBy(self.id_col)

    def diff(self, other: DataFrame) -> DataFrame:
        """Snapshot diff against another documents frame (same id/text
        columns): per change-class counts of added / removed / changed /
        unchanged docs by content digest (x_snapshot_diff semantics,
        self = old snapshot, other = new). Both sides project to
        (id, md5) before the full-outer join — digests shuffle, never
        bodies. Returns (change, n, example_doc)."""
        idc, txt = self.id_col, self.text_col
        a = self.docs.select(F.col(idc).alias("id"), F.md5(txt).alias("digest"))
        b = other.select(F.col(idc).alias("id"), F.md5(txt).alias("digest"))
        j = a.alias("a").join(b.alias("b"), F.col("a.id") == F.col("b.id"), "full_outer")
        diff = j.select(
            F.coalesce(F.col("a.id"), F.col("b.id")).alias("id"),
            F.when(F.col("a.id").isNull(), "added")
            .when(F.col("b.id").isNull(), "removed")
            .when(F.col("a.digest") != F.col("b.digest"), "changed")
            .otherwise("unchanged")
            .alias("change"),
        )
        return (
            diff.groupBy("change")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("id").cast("bigint").alias("example_doc"),
            )
            .orderBy("change")
        )

    # ---- batch preparation ------------------------------------------------

    def pack_sequences(self, window_tokens: int = 2048, shards: int = 8) -> DataFrame:
        """Greedy sequence packing into context windows, parallel per
        (shard) stream — x_seq_packing semantics with the shard key from
        the stable id. Adds (shard, bin)."""
        d = self.docs.withColumn("__n_tok", F.size(self._toks())).withColumn(
            "shard", F.col(self.id_col) % shards
        )
        w = (
            W.partitionBy("shard")
            .orderBy(self.id_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return (
            d.withColumn("__cum", F.sum("__n_tok").over(w))
            .withColumn("bin", F.expr(f"(__cum - __n_tok) div {window_tokens}"))
            .drop("__n_tok", "__cum")
        )

    def padding_waste(
        self, by: str = "lang", window_tokens: int = 2048, shards: int = 8
    ) -> DataFrame:
        """Padding-waste audit of the pack_sequences layout (registered
        x_padding_waste semantics at the defaults): per `by` group,
        parallel-stream window count, padding tokens / fraction, and the
        windows attributable purely to stream parallelism. Exact
        integers; one (by, shard) partial agg, no window function."""
        stream = (
            self.docs.select(
                by,
                (F.col(self.id_col) % shards).alias("__shard"),
                F.size(self._toks()).alias("__n_tok"),
            )
            .groupBy(by, "__shard")
            .agg(F.sum("__n_tok").alias("__toks"))
        )
        win = F.expr(f"(__toks + {window_tokens - 1}) div {window_tokens}")
        agg = stream.groupBy(by).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_streams"),
            F.sum("__toks").cast("bigint").alias("total_tokens"),
            F.sum(win).cast("bigint").alias("n_windows"),
        )
        return agg.select(
            by,
            "n_streams",
            "total_tokens",
            "n_windows",
            (F.col("n_windows") * window_tokens - F.col("total_tokens"))
            .cast("bigint")
            .alias("padding_tokens"),
            F.round(
                (F.col("n_windows") * window_tokens - F.col("total_tokens")).cast("double")
                / (F.col("n_windows") * window_tokens).cast("double"),
                6,
            ).alias("padding_frac"),
            (
                F.col("n_windows")
                - F.expr(f"(total_tokens + {window_tokens - 1}) div {window_tokens}")
            )
            .cast("bigint")
            .alias("shard_overhead_windows"),
        ).orderBy(by)

    # ---- mix planning -----------------------------------------------------

    def mix_weights(self, by: str = "lang", tau_sqrt: bool = True) -> DataFrame:
        """Temperature-scaled sampling weights per group (registered
        x_temperature_sample semantics, tau=0.5 via exact sqrt): adds
        (n_docs, base_ppm, weight_temp, boost) per `by` value. Feed the
        boost into `weighted_sample` to apply the plan."""
        lc = self.docs.groupBy(by).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        )
        wcum = W.orderBy(by).rowsBetween(W.unboundedPreceding, W.currentRow)
        s = (
            F.sqrt(F.col("n_docs").cast("double"))
            if tau_sqrt
            else F.col("n_docs").cast("double")
        )
        w = lc.select(
            by,
            "n_docs",
            F.sum("n_docs").over(W.partitionBy()).cast("bigint").alias("__nt"),
            s.alias("__s"),
            F.sum(s).over(wcum).alias("__cum"),
        )
        z = w.select(
            by, "n_docs", "__nt", "__s", F.max("__cum").over(W.partitionBy()).alias("__z")
        )
        return z.select(
            by,
            "n_docs",
            F.expr("CAST(n_docs * 1000000 div __nt AS BIGINT)").alias("base_ppm"),
            F.round(F.col("__s") / F.col("__z"), 6).alias("weight_temp"),
            F.round(
                F.col("__s") * F.col("__nt").cast("double")
                / (F.col("__z") * F.col("n_docs").cast("double")),
                6,
            ).alias("boost"),
        )

    def token_budget(
        self, budget: int, cap_pct: int = 30, by: str = "source"
    ) -> DataFrame:
        """Allocate a token budget across `by` groups: proportional share,
        per-group cap, one waterfilling redistribution round (registered
        x_token_budget semantics — integer-exact, never over budget).
        Returns (group, tokens_avail, alloc_tokens, is_capped)."""
        st = self.docs.groupBy(by).agg(
            F.sum(F.size(self._toks())).cast("bigint").alias("tok")
        )
        cap = budget * cap_pct // 100
        p1 = st.select(
            by,
            "tok",
            F.sum("tok").over(W.partitionBy()).cast("bigint").alias("__tt"),
        ).select(
            by,
            "tok",
            F.expr(f"CAST({budget} * tok div __tt AS BIGINT)").alias("__want"),
        )
        p2 = p1.select(
            by,
            "tok",
            "__want",
            F.lit(cap).cast("bigint").alias("__cap"),
            (F.col("__want") > cap).alias("is_capped"),
        ).select(
            by,
            "tok",
            "__want",
            "__cap",
            "is_capped",
            (F.lit(budget) - F.sum(F.least("__want", "__cap")).over(W.partitionBy()))
            .cast("bigint")
            .alias("__left"),
            F.sum(F.when(F.col("is_capped"), 0).otherwise(F.col("tok")))
            .over(W.partitionBy())
            .cast("bigint")
            .alias("__tu"),
        )
        base = F.least("__want", "__cap")
        alloc = F.least(
            F.when(F.col("is_capped") | (F.col("__tu") == 0), base).otherwise(
                base + F.expr("CAST(__left * tok div __tu AS BIGINT)")
            ),
            F.col("__cap"),
        ).cast("bigint")
        return p2.select(
            by,
            F.col("tok").alias("tokens_avail"),
            alloc.alias("alloc_tokens"),
            "is_capped",
        )

    # ---- round-6 additions -----------------------------------------------

    def pii_flags(self) -> DataFrame:
        """Per-doc PII detection columns (x_pii_scan semantics over the
        caller's own text, WITHOUT the synthetic injection): the first
        card-shaped 16-digit candidate, whether it passes the Luhn
        checksum (16 explicit integer terms — the release-gate signal
        that separates real card leaks from order ids), and the IPv4
        literal count. Map-only regex + integer expressions."""
        from .operators.pipeline import _luhn_spark

        card = F.regexp_extract(self.text_col, r"[0-9]{16}", 0)
        return (
            self.docs.withColumn("pii_card", card)
            .withColumn(
                "pii_card_luhn_valid",
                (F.col("pii_card") != "") & _luhn_spark(F.col("pii_card")),
            )
            .withColumn(
                "pii_n_ips",
                F.size(
                    F.regexp_extract_all(
                        self.text_col,
                        F.lit(r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
                        F.lit(0),
                    )
                ),
            )
        )

    def gopher_flags(self) -> DataFrame:
        """Per-doc Gopher-rule booleans (x_gopher_rules semantics): word
        count bounds, mean word length 3-10, alphabetic-word fraction,
        stopword presence, plus the conjunctive pass_gopher. One scan of
        HOF array expressions; thresholds are the registered constants."""
        from .operators.quality import (
            GOPHER_ALPHA_MIN,
            GOPHER_MAX_WORDS,
            GOPHER_MIN_WORDS,
            GOPHER_MWL_HI,
            GOPHER_MWL_LO,
            GOPHER_STOP_MIN,
            GOPHER_STOPS,
        )

        d = self.docs.withColumn("__toks", self._toks())
        n_words = F.size("__toks")
        denom = F.greatest(n_words, F.lit(1))
        mean_wl = F.length(F.concat_ws("", F.col("__toks"))).cast("double") / denom
        alpha = (
            F.size(F.expr("filter(__toks, x -> x rlike '[a-z]')")).cast("double") / denom
        )
        stops = F.array(*[F.lit(s) for s in GOPHER_STOPS])
        n_stops = F.size(F.filter(stops, lambda s: F.array_contains(F.col("__toks"), s)))
        return (
            d.withColumn(
                "ok_word_count",
                (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS),
            )
            .withColumn(
                "ok_mean_word_len", (mean_wl >= GOPHER_MWL_LO) & (mean_wl <= GOPHER_MWL_HI)
            )
            .withColumn("ok_alpha_frac", alpha >= GOPHER_ALPHA_MIN)
            .withColumn("ok_stopwords", n_stops >= GOPHER_STOP_MIN)
            .withColumn(
                "pass_gopher",
                F.col("ok_word_count")
                & F.col("ok_mean_word_len")
                & F.col("ok_alpha_frac")
                & F.col("ok_stopwords"),
            )
            .drop("__toks")
        )

    def contamination_fraction(self, bench: DataFrame, ngram: int = 4) -> DataFrame:
        """Per-doc benchmark-overlap FRACTION (x_contamination_overlap
        semantics against ANY user benchmark frame): the share of this
        doc's distinct ngram-word shingles that appear in the benchmark
        shingle set — length-fair, unlike decontaminate()'s absolute
        count. Returns (id, n_total, n_hit, overlap_frac) for EVERY doc
        (zero-overlap docs included). The benchmark digest set
        broadcasts."""
        def sh(d: DataFrame, idc: str, txc: str) -> DataFrame:
            # UNFILTERED split, matching x_contamination_overlap (and its
            # oracle) exactly: shingles keep empty tokens from repeated
            # whitespace, so method and registered query agree on any text.
            toks = F.split(txc, " ")
            n_sh = F.greatest(F.size(toks) - ngram + 1, F.lit(1))
            arr = F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, ngram))),
            )
            return d.select(
                F.col(idc).alias("__id"), F.explode(arr).alias("__sh")
            ).dropDuplicates(["__id", "__sh"])

        bench_sh = (
            sh(bench, self.id_col, self.text_col)
            .select(F.col("__sh").alias("__bh"))
            .distinct()
        )
        frac = F.col("n_hit").cast("double") / F.col("n_total")
        return (
            sh(self.docs, self.id_col, self.text_col)
            .join(F.broadcast(bench_sh), F.col("__sh") == F.col("__bh"), "left")
            .groupBy(F.col("__id").alias(self.id_col))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_total"),
                F.sum(F.when(F.col("__bh").isNotNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_hit"),
            )
            .withColumn("overlap_frac", F.round(frac, 6))
        )

    def length_mixture(self, by: str = "lang") -> DataFrame:
        """Token-length-bucket x group histogram with uniform-target
        reweighting factors (x_length_mixture semantics): weight > 1
        marks underrepresented cells to upsample. Fixed literal bucket
        edges keep the scan map-only; the grand total broadcasts."""
        from .operators.pipeline import LEN_BUCKET_EDGES as E

        n_tok = F.size(self._toks())
        bucket = (
            F.when(n_tok < E[0], "len_000")
            .when(n_tok < E[1], "len_064")
            .when(n_tok < E[2], "len_128")
            .when(n_tok < E[3], "len_256")
            .otherwise("len_512")
        )
        g = cached(
            self.docs.select(F.col(by), n_tok.alias("__nt"), bucket.alias("bucket"))
            .groupBy(by, "bucket")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("__nt").cast("bigint").alias("n_tokens"),
            )
        )
        tot = g.agg(
            F.sum("n_tokens").cast("bigint").alias("__all"),
            F.count(F.lit(1)).cast("bigint").alias("__cells"),
        )
        return g.crossJoin(F.broadcast(tot)).select(
            by,
            "bucket",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("__all").cast("double") / F.col("__cells") / F.col("n_tokens"), 6
            ).alias("uniform_weight"),
        )

    def dsir_weights(self, is_target, buckets: int = 64) -> DataFrame:
        """Per-doc DSIR importance weight (x_dsir_weights semantics
        against ANY caller-defined target slice): hashed word-unigram
        features, weight = sum_b c_b * ln(p_target(b) / p_raw(b)) with
        Laplace +1 smoothing. `is_target` is a boolean Column marking
        the target-domain rows (e.g. F.col('lang') == 'en'). Returns
        (id, is_target, dsir_weight) for every doc; rank or threshold
        the weight downstream to resample. The text is exploded once
        into a persisted doc-keyed count frame; bucket statistics
        collapse to `buckets` rows whose log-ratio table broadcasts."""
        tok = self.docs.select(
            F.col(self.id_col).alias("__id"),
            is_target.alias("__t"),
            F.explode(F.split(self.text_col, " ")).alias("__tok"),
        )
        bucket = (
            F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10).cast("bigint") % buckets
        )
        counts = cached(
            tok.groupBy("__id", "__t", bucket.alias("__b"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        )
        stats = counts.groupBy("__b").agg(
            F.sum(F.when(F.col("__t"), F.col("__c")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("__nt"),
            F.sum("__c").cast("bigint").alias("__nr"),
        )
        totals = stats.agg(
            F.sum("__nt").cast("bigint").alias("__tt"),
            F.sum("__nr").cast("bigint").alias("__rt"),
        )
        lr = stats.crossJoin(F.broadcast(totals)).select(
            "__b",
            F.round(
                F.log(
                    ((F.col("__nt") + 1) * (F.col("__rt") + buckets)).cast("double")
                    / ((F.col("__nr") + 1) * (F.col("__tt") + buckets)).cast("double")
                ),
                6,
            ).alias("__lr"),
        )
        return (
            counts.join(F.broadcast(lr), "__b")
            .groupBy(F.col("__id").alias(self.id_col), F.col("__t").alias("is_target"))
            .agg(
                F.sum(
                    F.round(F.col("__c").cast("double") * F.col("__lr"), 6).cast(
                        "decimal(24,6)"
                    )
                )
                .cast("double")
                .alias("dsir_weight")
            )
        )

    # ---- corpus-health metrics (round 7) ---------------------------------

    def char_entropy(self, out_col: str = "char_entropy") -> DataFrame:
        """docs + per-document character-entropy column (bits; 6-dp
        decimal fold). Same expression as x_char_entropy — filter on it
        against the ENTROPY_LOW/HIGH gates to drop degenerate or
        noise-like text. Map-only."""
        from .operators.corpus_health import char_entropy_col

        return self.docs.withColumn(
            out_col, char_entropy_col(self.text_col).cast("double")
        )

    def lexicon_score(
        self,
        lexicon: tuple[tuple[str, int], ...] | None = None,
        out_col: str = "lexicon_score",
    ) -> DataFrame:
        """docs + weighted lexicon-hit score (x_toxicity_lexicon's
        expression over a caller-supplied policy lexicon). Map-only; the
        lexicon compiles into one CASE expression — no join."""
        from .operators.corpus_health import TOX_LEXICON, lexicon_score_col

        return self.docs.withColumn(
            out_col, lexicon_score_col(self.text_col, lexicon or TOX_LEXICON)
        )

    def ngram_novelty(self, ngram: int = 3) -> DataFrame:
        """(id, n_ngrams, n_novel) per document — the x_ngram_novelty
        first-occurrence index over ANY corpus; novelty fraction =
        n_novel / n_ngrams. One digest-keyed partial agg, one id-keyed
        join."""
        from .operators.corpus_health import novelty_per_doc

        return novelty_per_doc(self.docs, self.id_col, self.text_col, ngram)

    def stratified_split(
        self,
        strata_cols: list[str],
        train: float = 0.8,
        val: float = 0.9,
        salt: str = "split:",
    ) -> DataFrame:
        """docs + (split, n_stratum) with EXACT per-stratum quotas
        (x_stratified_split semantics over caller-defined strata):
        ranked md5 cut at floor(train·n)/floor(val·n), deterministic
        from ids alone. Use instead of with_split() when every stratum's
        proportions must hold to within one document."""
        from .operators.corpus_health import stratified_assign

        return stratified_assign(
            self.docs, strata_cols, self.id_col, train, val, salt
        )

    def keep_best_dedup(self) -> DataFrame:
        """Canonical-text dedup keeping the variant with the LONGEST raw
        text per group (ties: lowest id) — x_dedup_keep_best's selection
        rule, returning the surviving rows. Shuffle key is the 16-byte
        canonical digest."""
        from .operators.corpus_health import keep_best_rank

        return (
            keep_best_rank(self.docs, self.id_col, self.text_col)
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
