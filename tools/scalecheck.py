"""Scale-growth experiments: replicate the driver tables K times (keys
offset; documents text-salted so replicas are near-dups, not trivial
exact dups) and measure how the registered queries and the capped
operator stages grow. Linear-ish wall-clock growth and bounded
candidate counts are the evidence that the banded/capped designs hold
under scale-up. Usage:

    python tools/scalecheck.py [--heavy] 1 2 4   # registered queries' slopes
    python tools/scalecheck.py --components 16 64 256   # CC round counts

and one mode per operator stage (--incremental, --winnow, --novelty,
--prefixjoin, --spans, --basket, --linkpred, --dsir, --padding; K
defaults to 1 2 4 10). Each mode drops what it cached and checkpointed
with one ``session.release()`` per K step.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from music_database_spark.session import cached, get_spark, release  # noqa: E402
from music_database_spark.sources.loader import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate(docs: DataFrame, k: int) -> DataFrame:
    """K shifted copies: ids offset per replica; replica r>0 gets a salt
    token appended so copies are near-dups (high Jaccard), not exact dups
    — the worst realistic case for candidate generation."""
    n = docs.count()
    out = docs
    for r in range(1, k):
        out = out.unionByName(
            docs.select(
                (F.col("doc_id") + r * n).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" replica{r}")).alias("text"),
                "lang",
                "source",
                "n_chars",
            ).select(docs.columns)
        )
    return out


# --- heavy-family scaling exponents (round-8 verdict ask #8) -------------

# One representative per expensive plan family, plus the corpus-stage and
# relational shapes, with the tables its scan actually reads.
# K-replication materializes real parquet (same layout for every K, I/O
# included) so the exponent measures the whole job.
HEAVY: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("x_dedup_exact", ("documents",)),         # md5-keyed window dedup
    ("x_dedup_minhash", ("documents",)),       # banded LSH candidates
    ("x_repetition_filter", ("documents",)),   # map-only quality flags
    ("x_pipe_syntax", ("lineitem",)),          # TPC-H Q1 scan-agg
    ("j_large_large", ("lineitem", "orders")), # lineitem⋈orders + agg
    ("x_dedup_minhash_md5", ("documents",)),   # banded dedup + verify
    ("x_dedup_embedding_det", ("documents",)), # sparse-BOW LSH + cosine verify
    ("x_span_mask", ("documents",)),           # k-gram position index + islands
    ("x_knn_pq", ("embeddings",)),             # PQ train + ADC rerank
    ("x_knn_ivf_trained", ("embeddings",)),    # Lloyd train + cell search
    ("x_lorenz_curve", ("orders",)),           # global rank (post-agg)
    ("x_histogram_equidepth", ("orders",)),    # value-domain rank spans
    ("x_sssp_weighted", ("lineitem", "orders", "customer", "supplier", "nation")),  # iterative rounds
    ("x_dedup_clusters", ("documents",)),       # pair gen + iterative label-prop CC
    ("x_dedup_clusters_star", ("documents",)),  # pair gen + large/small-star CC
    ("x_assoc_rules", ("lineitem",)),           # a-priori basket pair self-join
)

# Key columns shifted per replica so copies are disjoint (documents get
# the salted near-dup treatment instead — the worst case for candidate
# generation). Bounded dimension keys (c_nationkey) stay put.
_SHIFT_COLS: dict[str, tuple[str, ...]] = {
    "embeddings": ("vec_id",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_suppkey"),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "nation": (),  # bounded dimension: never replicated, K copies = 1 copy
}


def _replicated_table(spark, t: str, k: int) -> DataFrame:
    df = load_table(spark, SF_DIR, t)
    if k == 1:
        return df
    if t == "documents":
        return replicate(df, k)
    cols = _SHIFT_COLS[t]
    if not cols:  # bounded dimension, identical at every K
        return df
    maxes = df.agg(*[(F.max(c) + 1).alias(c) for c in cols]).collect()[0]
    out = df
    for r in range(1, k):
        out = out.unionByName(
            df.select(
                *[
                    (F.col(c) + r * maxes[c]).alias(c) if c in cols else F.col(c)
                    for c in df.columns
                ]
            )
        )
    return out


def heavy_growth(ks: list[int]) -> None:
    """Measured sf0.1 -> K x sf0.1 scaling exponents for the registered
    queries in HEAVY:

        python tools/scalecheck.py --heavy 1 2 4

    For each query, K-replicated inputs are materialized to
    .tmp/heavy_k{K}/ (identical parquet layout for every K, so K=1 is
    measured through the same path), ``runtime.run`` makes one cold and
    2 warm noop-sink executions (their median is the time), and the
    exponent is ln(t_Kmax / t_1) / ln(Kmax). Slope ~1.0 = linear
    scaling; anything materially above ~1.3 earns a plan note in
    PLANS.md."""
    import math
    import shutil

    from music_database_spark.runtime import run

    if len(ks) < 2 or ks[-1] == ks[0]:
        raise SystemExit(
            "--heavy needs at least two distinct K values to fit a slope, "
            f"got {ks} (e.g. `python tools/scalecheck.py --heavy 1 4 16`)"
        )

    only = [
        a.split("=", 1)[1].split(",")
        for a in sys.argv[1:]
        if a.startswith("--only=")
    ]
    heavy = (
        tuple(h for h in HEAVY if h[0] in set(only[0])) if only else HEAVY
    )
    if only and len(heavy) != len(set(only[0])):
        raise SystemExit(f"--only names not in HEAVY: {set(only[0]) - {h[0] for h in heavy}}")

    spark = get_spark("scalecheck")
    needed: dict[str, None] = {}
    for _, tabs in heavy:
        for t in tabs:
            needed[t] = None
    # Replica dirs are keyed by the base data's CONTENT identity (sf
    # basename + the shared source_content_tag over the tables we
    # replicate — the repo-wide derived-cache convention): a regenerated
    # testdata drop, or pointing SPARK_GRAFT_SF_DIR elsewhere, gets fresh
    # replicas instead of silently measuring stale ones (advisor finding,
    # rounds 8/9). Superseded siblings are swept. --force rebuilds anyway
    # (for when the replication logic itself changes).
    from music_database_spark.sources.loader import source_content_tag

    base_tag = (
        os.path.basename(os.path.normpath(SF_DIR))
        + "_"
        + source_content_tag(SF_DIR, list(needed))
    )
    force = "--force" in sys.argv[1:]
    for k in ks:
        kdir = os.path.join(REPO, ".tmp", f"heavy_{base_tag}_k{k}")
        for stale in glob.glob(os.path.join(REPO, ".tmp", f"heavy_*_k{k}")):
            if stale != kdir:
                shutil.rmtree(stale, ignore_errors=True)
        if force:
            shutil.rmtree(kdir, ignore_errors=True)
        for t in needed:
            path = os.path.join(kdir, f"{t}.parquet")
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                _replicated_table(spark, t, k).write.mode("overwrite").parquet(path)
    from music_database_spark.registry import load_all

    reg = load_all()
    print(f"{'query':<24} " + " ".join(f"K={k:<2}s".rjust(8) for k in ks) + "  slope")
    for name, _tabs in heavy:
        times = []
        for k in ks:
            sf_dir = os.path.join(REPO, ".tmp", f"heavy_{base_tag}_k{k}")
            rec = run(spark, name, reg[name].build, sf_dir, warm=2)
            times.append(statistics.median(rec["warm_s"]))
        slope = math.log(times[-1] / times[0]) / math.log(ks[-1] / ks[0])
        print(
            f"{name:<24} "
            + " ".join(f"{t:8.2f}" for t in times)
            + f"  {slope:5.2f}"
        )


def novelty_growth(ks: list[int]) -> None:
    """First-occurrence index growth for x_ngram_novelty (round 7):

        python tools/scalecheck.py --novelty 1 2 4 10

    What the numbers must show for the design to hold at 100 TB:
    * the distinct-ngram INDEX grows with unique content, not corpus
      size — replicas add only their salt-boundary grams, so index
      rows stay ~flat while docs grow K-fold;
    * replica docs score ~0 novelty (their grams' min-id carrier is the
      base copy) while base docs keep their curve — the semantic that
      makes the metric a saturation detector;
    * wall-clock grows ~linearly in K (one explode + two partial aggs +
      one id-keyed join; no quadratic pair work anywhere)."""
    from music_database_spark.operators.corpus_health import (
        novelty_per_doc,
        novelty_shingle_arr,
    )

    spark = get_spark("scalecheck")
    base = load_table(spark, SF_DIR, "documents")
    n_base = base.count()
    cores = spark.sparkContext.defaultParallelism
    print(
        f"{'K':>3} {'docs':>7} {'sec':>7} {'index_ngrams':>12} "
        f"{'base_nov':>9} {'replica_nov':>11}"
    )
    for k in ks:
        docs = cached(replicate(base, k).repartition(cores))
        docs.count()
        t0 = time.time()
        per_doc = cached(novelty_per_doc(docs))
        stats = (
            per_doc.groupBy((F.col("id") < n_base).alias("is_base"))
            .agg(
                (F.sum("n_novel") / F.sum("n_ngrams")).alias("nov"),
            )
            .collect()
        )
        dt = time.time() - t0
        # the operator's own shingle expression — the probe measures the
        # exact index novelty_per_doc builds, not a hardcoded twin
        idx = (
            docs.select(F.explode(novelty_shingle_arr("text")).alias("h"))
            .agg(F.countDistinct("h"))
            .collect()[0][0]
        )
        by = {r["is_base"]: r["nov"] for r in stats}
        print(
            f"{k:>3} {docs.count():>7} {dt:>7.2f} {idx:>12} "
            f"{by.get(True, 0):>9.4f} {by.get(False, float('nan')):>11.4f}"
        )
        release()


def prefixjoin_growth(ks: list[int]) -> None:
    """Candidate growth for the LOSSLESS prefix-filtered join (round 7):

        python tools/scalecheck.py --prefixjoin 1 2 4

    The honest claim to verify: with near-dup replicas the TRUE pair
    mass itself grows ~K^2 per duplicate group (replicas of one doc are
    all pairwise similar), and a lossless join must return all of them
    — so verified pairs growing quadratically is CORRECT, not a
    blow-up. What must stay controlled is the prefix OVERHEAD: the
    candidate:verified ratio (how many candidates the rare-prefix
    postings admit per true pair) should stay ~flat as K grows, and
    wall-clock should track candidates, not corpus^2."""
    spark = get_spark("scalecheck")
    base = load_table(spark, SF_DIR, "documents")
    cores = spark.sparkContext.defaultParallelism
    from music_database_spark.operators.dedup import prefix_candidates, prefix_verify, shingles

    print(f"{'K':>3} {'docs':>7} {'sec':>7} {'candidates':>10} {'verified':>9} {'cand/true':>9}")
    for k in ks:
        docs = cached(replicate(base, k).repartition(cores))
        docs.count()
        t0 = time.time()
        sh = cached(docs.select("doc_id", F.explode(shingles(F.col("text"))).alias("shingle")))
        cand = cached(prefix_candidates(sh))
        n_cand = cand.count()
        n_true = prefix_verify(sh, cand).count()
        dt = time.time() - t0
        print(
            f"{k:>3} {docs.count():>7} {dt:>7.2f} {n_cand:>10} {n_true:>9} "
            f"{(n_cand / max(n_true, 1)):>9.2f}"
        )
        release()


def winnow_growth(ks: list[int]) -> None:
    """Fingerprint-density and candidate-pair growth for the winnow and
    containment families (VERDICT r4 ask #7):

        python tools/scalecheck.py --winnow 1 2 4 10

    What the numbers must show for the WINNOW_MAX_FP_FREQ /
    MAX_SHINGLE_FREQ caps to be justified at scale:
    * fingerprint DENSITY (fps per k-gram window) stays at the winnowing
      guarantee ~2/(w+1) — selection is local to each doc, so corpus
      growth cannot change it;
    * the fraction of fingerprints dropped by the hot cap grows with K
      (replicas multiply every fp's corpus frequency) while candidate
      generation stays bounded — without the cap each fp shared by m
      docs fans out m^2/2 pairs;
    * containment candidates off the shared shingle index grow ~linearly
      in true-duplicate mass, not quadratically in corpus size."""
    from music_database_spark.corpus import CorpusPipeline
    from music_database_spark.operators.textops import WINNOW_MAX_FP_FREQ, WINNOW_W

    spark = get_spark("scalecheck")
    base = load_table(spark, SF_DIR, "documents")
    cores = spark.sparkContext.defaultParallelism
    print(
        f"{'K':>3} {'docs':>7} {'fps':>9} {'density':>8} {'hot_fp%':>8} "
        f"{'cand_sec':>8} {'cand_pairs':>10} {'cont_sec':>8} {'cont_pairs':>10}"
    )
    for k in ks:
        # repartition: the sf0.1 parquet is a single row group, and the
        # winnow selection is the most compute-heavy map pass in the repo
        # — without this the whole experiment single-threads (the exact
        # local bottleneck sources/loader.scan_wide exists to fix; a
        # cluster reading 100 TB gets its parallelism from file splits)
        docs = cached(replicate(base, k).repartition(cores))
        docs.count()
        pipe = CorpusPipeline(docs)
        fps = pipe.winnow_fingerprints().select(
            "doc_id", F.col("n_kgrams"), F.explode("fps").alias("fp")
        )
        n_fps = fps.count()
        # windows per doc = n_kgrams - (W-1); density = fps / windows
        windows = (
            pipe.winnow_fingerprints()
            .select(
                F.when(F.col("n_kgrams") > WINNOW_W - 1, F.col("n_kgrams") - (WINNOW_W - 1))
                .otherwise(0)
                .alias("w")
            )
            .agg(F.sum("w"))
            .collect()[0][0]
        )
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("f"))
            .agg(
                F.sum(F.when(F.col("f") > WINNOW_MAX_FP_FREQ, F.col("f")).otherwise(0)).alias(
                    "hot"
                ),
                F.sum("f").alias("tot"),
            )
            .collect()[0]
        )
        hot_pct = 100.0 * hot["hot"] / hot["tot"] if hot["tot"] else 0.0
        t0 = time.time()
        cand = pipe.winnow_candidates().count()
        cand_dt = time.time() - t0
        t0 = time.time()
        cont = pipe.containment_pairs().count()
        cont_dt = time.time() - t0
        print(
            f"{k:>3} {docs.count():>7} {n_fps:>9} {n_fps / windows:>8.3f} {hot_pct:>8.1f} "
            f"{cand_dt:>8.2f} {cand:>10} {cont_dt:>8.2f} {cont:>10}"
        )
        release()


def dsir_growth(ks: list[int]) -> None:
    """DSIR importance-weight growth:

        python tools/scalecheck.py --dsir 1 2 4 10

    The scale claims the numbers must show: the hashed-feature index
    (doc, bucket) grows LINEARLY in corpus size (it is bounded by
    min(tokens, docs x buckets)); the bucket-statistics / log-ratio
    frame stays EXACTLY `buckets` rows at every K (corpus-size-
    independent broadcast); wall-clock grows ~linearly. Replicas keep
    their language, so the target/raw ratio — and therefore the weight
    scale — is K-invariant up to the salt token."""
    from music_database_spark.corpus import CorpusPipeline

    spark = get_spark("scalecheck")
    base = load_table(spark, SF_DIR, "documents")
    cores = spark.sparkContext.defaultParallelism
    print(
        f"{'K':>3} {'docs':>7} {'index_rows':>10} {'bucket_rows':>11} "
        f"{'sec':>7} {'sel_frac':>9} {'avg_w_en':>9}"
    )
    for k in ks:
        docs = cached(replicate(base, k).repartition(cores))
        docs.count()
        pipe = CorpusPipeline(docs)
        t0 = time.time()
        w = cached(pipe.dsir_weights(F.col("lang") == "en"))
        n_docs = w.count()
        dt = time.time() - t0
        sel = w.filter(F.col("dsir_weight") > 0).count()
        avg_en = (
            w.filter(F.col("is_target"))
            .agg(F.avg("dsir_weight"))
            .collect()[0][0]
        )
        # the index/bucket frames, recomputed standalone for the gauge
        tok = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("__tok")
        )
        b = (
            F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10).cast("bigint") % 64
        )
        idx = tok.groupBy("doc_id", b.alias("__b")).count()
        index_rows = idx.count()
        bucket_rows = idx.groupBy("__b").count().count()
        print(
            f"{k:>3} {n_docs:>7} {index_rows:>10} {bucket_rows:>11} "
            f"{dt:>7.2f} {sel / n_docs:>9.3f} {avg_en:>9.4f}"
        )
        release()


def padding_growth(shards_list: list[int]) -> None:
    """Parallelism-vs-padding curve for the packing layout:

        python tools/scalecheck.py --padding 1 8 64 512

    Each packing stream wastes at most one partial window, so padding
    grows linearly in STREAM COUNT (the per-lang expectation is about
    half a window per stream) while total tokens are constant — the
    price of parallel packing that x_padding_waste exists to surface.
    The numbers must show: padding_tokens bounded by
    n_streams x (window - 1), shard_overhead_windows monotone in
    shards, and flat wall-clock (the plan is one partial agg whose cell
    count, langs x shards, is tiny at every setting)."""
    from music_database_spark.corpus import CorpusPipeline

    spark = get_spark("scalecheck")
    base = cached(load_table(spark, SF_DIR, "documents"))
    base.count()
    pipe = CorpusPipeline(base)
    print(
        f"{'shards':>6} {'streams':>8} {'windows':>8} {'overhead':>9} "
        f"{'pad_tokens':>10} {'pad_frac':>9} {'sec':>7}"
    )
    for s in shards_list:
        t0 = time.time()
        rows = pipe.padding_waste(shards=s).collect()
        dt = time.time() - t0
        streams = sum(r["n_streams"] for r in rows)
        wins = sum(r["n_windows"] for r in rows)
        over = sum(r["shard_overhead_windows"] for r in rows)
        pad = sum(r["padding_tokens"] for r in rows)
        tot = sum(r["total_tokens"] for r in rows)
        assert pad <= streams * 2047, "padding exceeded one window per stream"
        print(
            f"{s:>6} {streams:>8} {wins:>8} {over:>9} "
            f"{pad:>10} {pad / (wins * 2048):>9.4f} {dt:>7.2f}"
        )
    release()


def span_growth(ks: list[int]) -> None:
    """Exact-substring family growth (x_substring_dedup / x_span_mask):

        python tools/scalecheck.py --spans 1 2 4 10

    Replicas are near-total copies, so every replica pair is a TRUE
    shared-span pair — the span count must grow ~K^2 per doc family
    (quadratic in the ANSWER) while the hot-k-gram cap keeps the
    inverted-index join bounded once replica multiplicity crosses
    SPAN_MAX_FREQ; wall-clock should track the answer, not corpus^2."""
    from music_database_spark.operators.spans import (
        SPAN_MAX_FREQ,
        substring_span_runs,
    )

    spark = get_spark("scalecheck")
    base = load_table(spark, SF_DIR, "documents")
    cores = spark.sparkContext.defaultParallelism
    print(f"{'K':>3} {'docs':>7} {'hot_kg%':>8} {'sec':>7} {'span_rows':>10} {'masked_docs':>11}")
    for k in ks:
        docs = cached(replicate(base, k).repartition(cores))
        docs.count()
        # hot-k-gram mass the cap drops (same probe as --winnow's)
        kg = docs.selectExpr(
            "explode(transform(sequence(1, greatest(size(split(text,' ')) - 7, 0)),"
            " i -> conv(substr(md5(concat_ws(' ', slice(split(text,' '), i, 8))),1,12),16,10))) AS h"
        )
        hot = (
            kg.groupBy("h").count()
            .selectExpr(
                f"sum(CASE WHEN count > {SPAN_MAX_FREQ} THEN count ELSE 0 END) AS hot",
                "sum(count) AS tot",
            )
            .collect()[0]
        )
        hot_pct = 100.0 * hot["hot"] / hot["tot"] if hot["tot"] else 0.0
        t0 = time.time()
        runs = cached(substring_span_runs(docs))
        n_rows = runs.count()
        dt = time.time() - t0
        from music_database_spark.operators.spans import mask_budget_from_runs

        masked = mask_budget_from_runs(runs).count()
        print(f"{k:>3} {docs.count():>7} {hot_pct:>8.1f} {dt:>7.2f} {n_rows:>10} {masked:>11}")
        release()


def components_growth(ks: list[int]) -> None:
    """Round-count contrast on a diameter-K chain graph (the worst case
    for label propagation, trivial for the star algorithm):

        python tools/scalecheck.py --components 16 64 256

    Label propagation needs ~K rounds (O(diameter)); large/small-star
    stays O(log K). Both must produce the all-zeros labeling."""
    from music_database_spark.operators.dedup import (
        label_propagation_components,
        star_components,
    )

    spark = get_spark("scalecheck")
    print(f"{'chain_n':>8} {'algorithm':<12} {'rounds':>6} {'sec':>7} {'ok':>3}")
    for n in ks:
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        for name, fn in (("star", star_components), ("label_prop", label_propagation_components)):
            if name == "label_prop" and n > 128:
                print(f"{n:>8} {name:<12} {'skip':>6} {'-':>7}   - (O(n) rounds; skipped past 128)")
                continue
            t0 = time.time()
            labels, rounds = fn(pairs)
            got = {r["node"]: r["label"] for r in labels.collect()}
            dt = time.time() - t0
            ok = got == {i: 0 for i in range(n)}
            print(f"{n:>8} {name:<12} {rounds:>6} {dt:>7.2f} {str(ok):>3}")
        release()


def incremental_growth(ks: list[int]) -> None:
    """O(batch) evidence for x_dedup_incremental_band: hold the ingest
    batch FIXED, grow the persisted band index K x, and measure per-ingest
    wall-clock and shuffle bytes (from the UI REST API, so this session
    runs with spark.ui.enabled=true). If the incremental path is O(batch),
    per-ingest shuffle volume stays ~flat while the index grows 10x —
    the index side is probed via a columnar scan + (AQE-chosen broadcast)
    hash join, never re-shingled, never shuffled in bulk."""
    import json
    import shutil
    import urllib.request

    from pyspark.sql import functions as F2

    from music_database_spark.operators.dedup import (
        MAX_BAND_FREQ,
        md5_band_frame,
        shingle_frame,
    )
    from music_database_spark.session import get_spark as _gs

    spark = _gs("scalecheck_inc", extra_conf={"spark.ui.enabled": "true"})

    def shuffle_totals() -> tuple[int, int]:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        stages = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages"))
        return (
            sum(s.get("shuffleWriteBytes", 0) for s in stages),
            sum(s.get("shuffleReadBytes", 0) for s in stages),
        )

    docs0 = load_table(spark, SF_DIR, "documents")
    batch = docs0.filter(F.col("doc_id") % 10 == 9)
    index_base = docs0.filter(F.col("doc_id") % 10 != 9)
    tmp = os.path.join(REPO, ".tmp", "inc_band_growth")
    shutil.rmtree(tmp, ignore_errors=True)

    print(f"{'K':>3} {'idx_docs':>9} {'batch':>6} {'sec':>7} {'shufW_MB':>9} {'shufR_MB':>9} {'pairs':>7}")
    for k in ks:
        idx_docs = replicate(index_base, k)
        sh_path = os.path.join(tmp, f"sh_k{k}")
        band_path = os.path.join(tmp, f"bands_k{k}")
        batch_docs = cached(batch)
        n_batch = batch_docs.count()
        # Index build (amortized across many ingests in production): the
        # persisted shingle-set + capped band tables.
        shset_i = cached(shingle_frame(idx_docs, "doc_id", "text"))
        n_idx = shset_i.count()
        shset_i.write.mode("overwrite").parquet(sh_path)
        from pyspark.sql import Window as W

        bands_i = md5_band_frame(shset_i)
        w = W.partitionBy("band_id", "band_hash")
        (
            bands_i.withColumn("bsz", F2.count(F2.lit(1)).over(w))
            .filter(F2.col("bsz") <= MAX_BAND_FREQ)
            .drop("bsz")
            .write.mode("overwrite")
            .parquet(band_path)
        )

        # Per-ingest measurement: shingle+hash the BATCH ONLY, probe the
        # index at rest, verify candidates. This is the recurring cost.
        w0, r0 = shuffle_totals()
        t0 = time.time()
        shset_b = cached(shingle_frame(batch_docs, "doc_id", "text"))
        bands_b = md5_band_frame(shset_b)
        idx = spark.read.parquet(band_path)
        # The batch side is broadcast EXPLICITLY: an ingest batch is small
        # by definition, and without the hint AQE flips to a sort-merge
        # join once the index outgrows the broadcast threshold — shuffling
        # the whole index per ingest (measured: 40 MB at K=10 vs ~0 with
        # the hint). Batches too big to broadcast would instead pre-bucket
        # the index by (band_id, band_hash) and co-partition the batch.
        cand = (
            F2.broadcast(bands_b).alias("b")
            .join(
                idx.alias("i"),
                (F2.col("b.band_id") == F2.col("i.band_id"))
                & (F2.col("b.band_hash") == F2.col("i.band_hash")),
            )
            .select(F2.col("b.id").alias("batch_id"), F2.col("i.id").alias("index_id"))
            .distinct()
        )
        sh_i = spark.read.parquet(sh_path)
        ver = (
            F2.broadcast(
                cand.join(
                    shset_b.select(F2.col("id").alias("batch_id"), F2.col("sh").alias("sh_b")),
                    "batch_id",
                )
            )
            .join(sh_i.select(F2.col("id").alias("index_id"), F2.col("sh").alias("sh_i")), "index_id")
            .select(
                "batch_id",
                "index_id",
                F2.size(F2.array_intersect("sh_b", "sh_i")).alias("n_inter"),
                (F2.size("sh_b") + F2.size("sh_i") - F2.size(F2.array_intersect("sh_b", "sh_i"))).alias("n_union"),
            )
            .filter(F2.col("n_inter") * 5 >= F2.col("n_union") * 3)
        )
        pairs = ver.count()
        dt = time.time() - t0
        w1, r1 = shuffle_totals()
        release()
        print(
            f"{k:>3} {n_idx:>9} {n_batch:>6} {dt:>7.2f} "
            f"{(w1 - w0) / 1e6:>9.2f} {(r1 - r0) / 1e6:>9.2f} {pairs:>7}"
        )
    shutil.rmtree(tmp, ignore_errors=True)


def basket_growth(ks: list[int]) -> None:
    """Association-rule candidate growth: replicate lineitem K times with
    orderkey offsets (same basket widths, K x more baskets) and measure
    the pair self-join's candidate volume with and without the a-priori
    support floor. The claim under test (operators/basket.py): pair
    expansion is sum-of-squares of basket sizes — LINEAR in baskets —
    and the floor prunes the item side before pairing."""
    from music_database_spark.operators.basket import MIN_SUPP

    spark = get_spark("scalecheck_basket")
    li0 = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    max_ok = li0.agg(F.max("l_orderkey")).collect()[0][0] + 1

    print(
        f"{'K':>3} {'baskets':>8} {'items':>9} {'freq_items':>10}"
        f" {'cand_pairs':>10} {'freq_pairs':>10} {'sec':>7}"
    )
    for k in ks:
        li = li0
        for r in range(1, k):
            li = li.unionByName(
                li0.withColumn("l_orderkey", F.col("l_orderkey") + r * max_ok)
            )
        items = cached(
            li.select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")).distinct()
        )
        n_items = items.count()
        n_baskets = items.select("okey").distinct().count()
        t0 = time.time()
        cnt = items.groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
        freq_pk = cnt.filter(F.col("c") >= MIN_SUPP).select("pk")
        n_freq_items = freq_pk.count()
        freq = items.join(F.broadcast(freq_pk), "pk").select("okey", "pk")
        a, b = freq.alias("a"), freq.alias("b")
        pairs = cached(
            a.join(
                b,
                (F.col("a.okey") == F.col("b.okey")) & (F.col("a.pk") < F.col("b.pk")),
            )
            .groupBy(F.col("a.pk").alias("pa"), F.col("b.pk").alias("pb"))
            .agg(F.count(F.lit(1)).alias("n_ab"))
        )
        n_cand = pairs.agg(F.sum("n_ab")).collect()[0][0] or 0
        n_freq_pairs = pairs.filter(F.col("n_ab") >= MIN_SUPP).count()
        dt = time.time() - t0
        print(
            f"{k:>3} {n_baskets:>8} {n_items:>9} {n_freq_items:>10}"
            f" {n_cand:>10} {n_freq_pairs:>10} {dt:>7.2f}"
        )
        release()


def linkpred_growth(ks: list[int]) -> None:
    """Link-prediction candidate growth under hub formation: replicate
    the (part, supplier) incidence K times with supplier-id offsets —
    parts keep their identity, so every part's supplier set grows Kx
    and every part drifts toward hub-hood. The claim under test
    (operators/graph.py x_link_prediction): candidate volume without a
    cap grows ~K^2 (sum of C(f,2) over parts), while the
    LP_MAX_PART_FREQ cap bounds per-part fanout so the realized
    candidate join collapses to the non-hub remainder. Uncapped/capped
    candidate counts are computed ANALYTICALLY from the frequency
    profile (sum f*(f-1)/2), the capped pair join is then actually run
    and timed."""
    from music_database_spark.operators.graph import LP_MAX_PART_FREQ

    spark = get_spark("scalecheck_linkpred")
    ps0 = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    row0 = ps0.agg(F.max("s").alias("ms"), F.max("p").alias("mp")).collect()[0]
    max_s, max_p = row0["ms"] + 1, row0["mp"] + 1

    print(
        f"{'mode':<7} {'K':>3} {'supps':>7} {'incid':>9} {'parts':>7} {'kept':>7}"
        f" {'cand_uncap':>12} {'cand_cap':>10} {'pairs':>9} {'sec':>7}"
    )
    for mode, k in [(m, k) for m in ("hub", "growth") for k in ks]:
        ps = ps0
        for r in range(1, k):
            rep = ps0.withColumn("s", F.col("s") + r * max_s)
            if mode == "growth":
                rep = rep.withColumn("p", F.col("p") + r * max_p)
            ps = ps.unionByName(rep)
        ps = cached(ps)
        n_inc = ps.count()
        n_sup = ps.select("s").distinct().count()
        freq = cached(ps.groupBy("p").agg(F.count(F.lit(1)).alias("f")))
        prof = freq.agg(
            F.count(F.lit(1)).alias("parts"),
            F.sum(F.col("f") * (F.col("f") - 1) / 2).alias("uncap"),
            F.sum(
                F.when(
                    F.col("f") <= LP_MAX_PART_FREQ, F.col("f") * (F.col("f") - 1) / 2
                ).otherwise(0)
            ).alias("cap"),
            F.sum(F.when(F.col("f") <= LP_MAX_PART_FREQ, 1).otherwise(0)).alias("kept"),
        ).collect()[0]
        t0 = time.time()
        keep = freq.filter(F.col("f") <= LP_MAX_PART_FREQ).select("p")
        cps = ps.join(keep, "p")
        a = cps.select(F.col("p").alias("pa"), F.col("s").alias("s1"))
        b = cps.select(F.col("p").alias("pb"), F.col("s").alias("s2"))
        n_pairs = (
            a.join(b, (F.col("pa") == F.col("pb")) & (F.col("s1") < F.col("s2")))
            .select("s1", "s2")
            .distinct()
            .count()
        )
        dt = time.time() - t0
        print(
            f"{mode:<7} {k:>3} {n_sup:>7} {n_inc:>9} {prof['parts']:>7}"
            f" {prof['kept']:>7} {int(prof['uncap']):>12} {int(prof['cap']):>10}"
            f" {n_pairs:>9} {dt:>7.2f}"
        )
        release()


MODES = {
    "--heavy": heavy_growth,
    "--incremental": incremental_growth,
    "--components": components_growth,
    "--winnow": winnow_growth,
    "--novelty": novelty_growth,
    "--prefixjoin": prefixjoin_growth,
    "--spans": span_growth,
    "--basket": basket_growth,
    "--linkpred": linkpred_growth,
    "--dsir": dsir_growth,
    "--padding": padding_growth,
}


def main() -> int:
    args = sys.argv[1:]
    flags = [a for a in args if a.startswith("--")]
    unknown = [f for f in flags if f not in MODES and f != "--force" and not f.startswith("--only=")]
    if unknown:
        raise SystemExit(f"unknown options {unknown}; modes: {' '.join(MODES)}")
    mode = next((MODES[f] for f in flags if f in MODES), heavy_growth)
    mode([int(a) for a in args if not a.startswith("--")] or [1, 2, 4, 10])
    return 0


if __name__ == "__main__":
    sys.exit(main())
