#!/usr/bin/env python3
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Timing = full query execution to a count/collect of the result (forces
the whole plan, avoids driver-side result transfer dominating).

Each query runs $SPARK_GRAFT_BENCH_REPS times (default 3) and reports
the MEDIAN -- single-shot numbers at sf0.1 carry 20-30% JVM/JIT/page-
cache noise (the r3->r4 verdicts' uniform ~1.26x "drift" on untouched
queries), and the median is the cheapest estimator that ignores one
cold outlier per query."""

from __future__ import annotations

import json
import os
import sys
import time

# The round-1 headliner set, kept stable so round-over-round regression
# is one subtraction: BENCH_rN.r1_subset_total vs BENCH_r1.value.
R1_SUBSET = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
    "delta_updated",
    "delta_classify_lake",
    "sessionize",
    "asof_purchase_view",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_bruteforce",
    "text_stats",
    "stream_window_counts",
]

HEADLINERS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
    "delta_updated",
    "delta_classify_lake",
    "sessionize",
    "asof_purchase_view",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_canonical",
    "dedup_embedding",
    "scd2",
    "incremental_agg",
    "ann_bruteforce",
    "ann_ivf_kmeans",
    "text_stats",
    "stream_window_counts",
    # r2 additions
    "decontaminate_ngram",
    "pagerank_suppliers",
    "gap_fill_ffill",
    "stream_session_windows",
    "embedding_quantize",
    "corpus_pipeline",
    # r3 additions
    "triangle_count",
    "containment_pairs",
    "kmv_distinct",
    # r5 additions
    "dedup_incremental_probe",
    "sequence_pack",
    "corpus_mix",
    "heavy_hitters_cms",
    # r6 additions (stream_running_counts intentionally absent: a
    # multi-microbatch stateful replay measures trigger latency, not
    # query throughput)
    "sequence_pack_chunks",
    "dedup_lines",
    "q21_waiting_suppliers",
    "dsir_importance",
    "doc_ngram_novelty",
    "cumulative_distinct_users",
    # r7 additions
    "bm25_topk",
    "lm_score_bigram",
    "asof_interpolate",
    "rfm_segments",
    # r8 additions (R1_SUBSET untouched so the round-over-round
    # subtraction stays stable). The dedup census/agreement keys sit
    # AFTER dedup_canonical on purpose: all three reuse the one
    # materialized verified-pair cache (functions/cache.py contract), so
    # their medians price the report aggregations, not a rebuilt pair
    # graph -- the max-sample "cold" field still shows any rep that paid
    # a build.
    "dedup_cluster_sizes",
    "dedup_family_agreement",
    "mom_growth",
    "bpe_pair_counts",
    "inverted_postings",
    "embedding_pca_topk",
    # r8 wave-2 additions (all sub-second shapes: sketches, sequence
    # funnel, layout report, diversity)
    "hll_distinct",
    "hll_sliding_distinct",
    "kmv_set_ops",
    "funnel_time_bounded",
    "session_paths_topk",
    "zorder_layout",
    "simpson_diversity",
    "bpe_learn_merges",
    # r9 additions (whiten consumes the PCA keys' memoized component
    # loop; the tuning harnesses reuse the ANN shapes and both pair
    # caches, so their medians price the evaluation joins)
    "embedding_whiten_topk",
    "ann_nprobe_sweep",
    "simhash_recall_by_tau",
    "bpe_encode_corpus",
    "source_embedding_drift",
    "dup_inflation_report",
    "hll_distinct_prod_m",
    # r10 additions (overlap prices the gram self-join; MMR the
    # broadcast top-k + greedy chain; pack report rides sequence_pack;
    # waterfill prices the per-source count + P-row window algebra)
    "cross_source_ngram_overlap",
    "pack_efficiency_report",
    "mmr_diversify_topk",
    "corpus_budget_waterfill",
    "event_heatmap_cells",
    # r11 additions (the sweep sits after mmr_diversify_topk so its
    # median prices five greedy chains over the SHARED materialized
    # candidate/pair caches; PQ prices encode + LUT + ADC scan; the
    # weighted rescoring rides the dedup pair cache)
    "mmr_lambda_sweep",
    "ann_pq_adc",
    "dedup_weighted_jaccard",
    "lsh_band_sweep",
    "pq_recall_sweep",
    "sessionize_gap_sweep",
    # trained-codebook PQ: prices the Lloyd pass + index-served ADC
    "ann_pq_kmeans",
    # IVFADC compound index: coarse routing + residual-PQ cell scan
    "ann_ivf_pq",
    # elbow curve: one composite-key Lloyd pass across the whole k grid
    "kmeans_k_sweep",
    # tokenizer budgeting: top-V coverage from one bounded type rank
    "vocab_coverage_sweep",
    # privacy audit: one QI grouped count reused across the k grid
    "k_anonymity_report",
    # dedup x quality cross-tab: one window count over the norm key
    "dup_quality_report",
    # Bloom sizing curve: one hash pass, per-m bit sets from h % m
    "bloom_fpr_sweep",
    # l-diversity: two stacked aggs on the QI prefix, grid broadcast
    "l_diversity_report",
    # watermark sizing: one keyed window pass, delay grid broadcast
    "watermark_lateness_sweep",
    # hybrid retrieval: integer RRF over two metadata-scale rankings
    "rank_fusion_rrf",
    # enumeration contracts: one conditional-agg scan per table
    "dq_accepted_values",
    # Matryoshka dim budget: one scan scores every (q, n, d) triple
    "emb_dim_truncation_sweep",
    # late-r11 sweep axes (shingle_size_sweep and simhash_band_sweep
    # are intentionally NOT headliners: the first prices 4x the full
    # dedup pair machinery and the second's candidate census is
    # saturated by the template-heavy synthetic corpus -- ~11 s / ~25 s
    # warm at sf0.1 -- both stay under the full oracle + sf0.1 certs)
    "hll_precision_sweep",
    # IVFADC: nprobe sweep re-slices one scored frame; trained residual
    # codebooks price the residual Lloyd pass + index-served cell scan
    "ivfadc_nprobe_sweep",
    "ann_ivf_pq_kmeans",
    # sketch mergeability trio: register max (HLL), k-min order
    # statistics (KMV), cell-wise sum (CMS) -- each one scan + a
    # metadata-scale merge
    "hll_merge_by_type",
    "kmv_merge_by_source",
    "cms_merge_by_source",
    # trained-IVFADC probe dial: index-served codebook + grid slices
    "ivfadc_trained_nprobe",
    # r12 additions. minhash_perm_sweep's median prices the sliced
    # estimator over the cached pair frame (the cold field shows the
    # one rep that paid the polyhash signature build, ~32 s at sf0.1);
    # the rest are sub-3 s single-pass reports.
    "minhash_perm_sweep",
    "tfidf_cosine_pairs",
    "ks_drift_by_source",
    "t_closeness_report",
    "doc_entropy_quality",
    "zipf_tail_by_source",
    "dup_span_coverage",
    "lang_entropy_by_source",
    "bootstrap_ci_poisson",
    "psi_drift_by_source",
    "cusum_changepoint_daily",
    "anova_f_event_value",
    "mannwhitney_u_value",
    # r12 second wave: DQ forensics, phrase/graph mining, planning
    "benford_first_digit",
    "profile_columns",
    "collocations_pmi",
    "link_prediction_aa",
    "theilsen_slope_daily",
    "abc_classification",
    "join_cardinality_estimate",
    "keyness_g2_by_source",
    # r13 additions: forecasting/statistics day-grain reports, the
    # sweep-synthesis frontier, and the pair-cache contamination matrix
    # (prices the shared-cache reuse after the dedup keys above).
    "holt_winters_forecast",
    "gini_concentration",
    "kendall_tau_daily",
    "runs_test_daily",
    "winsorized_mean_by_type",
    "ann_pareto_frontier",
    "boilerplate_line_census",
    "dedup_cross_source_matrix",
    "embedding_norm_outliers",
    # r13 second wave: seasonal forecasting, rank correlation, funnel
    # attrition, the integer-exact weighted reservoir, and the
    # census-derived idf family (the census keys price the CacheManager
    # reuse after the dedup keys above, like the contamination matrix).
    "holt_winters_seasonal",
    "spearman_rho_daily",
    "funnel_dropoff",
    "weighted_reservoir_sample",
    "vocab_df_zipf",
    "doc_idf_profile",
    "doc_boilerplate_simpson",
    "funnel_time_to_convert",
    "page_hinkley_drift",
    "source_df_zipf",
    "q2_min_cost_supplier",
    "association_rules",
    # r14 additions: attribution/monitoring day-grain reports, the
    # rule-strength keys (ride association_rules' cached census), the
    # stratified two-scan sampler, the bounded simhash census (prices
    # the CC fixpoint after the pair keys above), and the KM curve.
    "markov_attribution",
    "sprt_conversion_monitor",
    "holt_winters_additive",
    "rule_conviction",
    "rule_ancestor_prune",
    "stratified_reservoir_alloc",
    "dedup_simhash_clusters",
    "survival_km",
    # r15 additions: the Replacedabn chain resolver (pointer doubling),
    # the k=4 generalized Markov solve, and the mergeable quantile
    # sketch rollup.
    "abn_current",
    "abn_chain_census",
    "markov_attribution_k",
    "quantile_merge_by_source",
    "quantile_grid_sweep",
    # r16 additions: the narrowed Q9 fact-fact rollup and the
    # trading-name (Othtrdnames) resolution + alias-fed fuzzy matcher.
    "profit_by_nation_year",
    "trading_names_current",
    "fuzzy_match_trading_names",
]


# Each result-cache family is released after its last consumer in
# HEADLINERS, outside the timed region. The families a key touches are
# declared beside its QUERIES, in its plan module's CACHE_FAMILIES.
def release_schedule(
    keys: list[str], families: dict[str, tuple[str, ...]]
) -> dict[str, list[str]]:
    """key -> the families whose last consumer in ``keys`` it is."""
    last = {fam: k for k in keys for fam in families.get(k, ())}
    out: dict[str, list[str]] = {}
    for fam, k in last.items():
        out.setdefault(k, []).append(fam)
    return out


def _bench_weekly_pipeline(spark, sf_dir: str, reps: int) -> list[float]:
    """Time the COMPOSED weekly flow (r11 verdict item 6): ingest ->
    transform -> delta -> merge_snapshot, replayed over two weekly
    drops plus a third no-op replay of week 2 (the marker fast path).
    Per-key queries above price each operator alone; this row prices
    the reference-parity main() end to end so a regression in the
    composition (extra scan between stages, a lost broadcast) is
    visible even when every per-key number holds.

    Drop synthesis (untimed setup): two pipe-delimited Agency_Data
    drops derived deterministically from sf's orders table -- week 2
    updates every 10th key, removes every 37th, adds 1k new rows."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from abr_etl_spark import pipeline

    root = tempfile.mkdtemp(prefix="abr_bench_weekly_")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            F.concat(F.lit("p"), F.col("o_orderkey")).alias("pid"),
            F.col("o_custkey").cast("string").alias("abn"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").cast("string").alias("total"),
            F.col("o_orderkey").alias("__k"),
        )
        week2 = (
            orders.where(F.col("__k") % 37 != 1)
            .withColumn(
                "total",
                F.when(
                    F.col("__k") % 10 == 0, F.lit("0.01")
                ).otherwise(F.col("total")),
            )
            .unionByName(
                orders.limit(1000).select(
                    F.concat(F.lit("q"), F.col("__k")).alias("pid"),
                    "abn",
                    "status",
                    "total",
                    "__k",
                )
            )
        )
        for wk, df, date6 in (("w1", orders, "190422"), ("w2", week2, "190429")):
            tmp = os.path.join(root, f"_csv_{wk}")
            df.drop("__k").coalesce(1).write.option("sep", "|").option(
                "header", True
            ).csv(tmp)
            drop = os.path.join(root, wk)
            os.makedirs(drop, exist_ok=True)
            part = next(
                f for f in os.listdir(tmp) if f.startswith("part-")
            )
            os.rename(
                os.path.join(tmp, part),
                os.path.join(drop, f"VIC{date6}_ABR_Agency_Data.txt"),
            )
        samples = []
        for rep in range(reps):
            work = os.path.join(root, f"run{rep}")
            kw = dict(
                lake_root=os.path.join(work, "lake"),
                datasets=("Agency_Data",),
                merge_dir=os.path.join(work, "merged"),
                # 8 buckets: enough to exercise the per-bucket marker
                # gate and rename commit while keeping the bench row
                # from pricing 32 tiny scheduler rounds at this SF
                merge_buckets=8,
            )
            t0 = time.perf_counter()
            pipeline.run_weekly(
                spark,
                pipeline.WeeklyConfig(drop_dir=os.path.join(root, "w1"), **kw),
            )
            pipeline.run_weekly(
                spark,
                pipeline.WeeklyConfig(drop_dir=os.path.join(root, "w2"), **kw),
            )
            # no-op replay: per-bucket marker fast path, no parquet rows
            pipeline.run_weekly(
                spark,
                pipeline.WeeklyConfig(drop_dir=os.path.join(root, "w2"), **kw),
            )
            samples.append(time.perf_counter() - t0)
        return samples
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(2 * int(cpus)))

    from abr_etl_spark.functions.cache import release_result_caches
    from abr_etl_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark("abr-etl-bench", master=f"local[{cpus}]")
    qs = entry_mod.queries()
    release_after = release_schedule(HEADLINERS, entry_mod.cache_families())

    # warm the JVM/codegen once with the cheapest query
    qs["q1_pricing_summary"](spark, sf_dir).count()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # The 13 comparator keys get extra reps (5+ medians) AND a min-of-N
    # "best" figure: four same-day r9 runs spanned 7.1-9.5 s on the
    # subset total, a host-noise band wider than a plausible regression,
    # so the round-over-round delta needs a tighter statistic (r9
    # verdict item 8). Membership of R1_SUBSET itself stays untouched.
    reps_r1 = max(reps, int(os.environ.get("SPARK_GRAFT_BENCH_REPS_R1", "5")))
    timings: dict[str, float] = {}
    # Cold = max sample. The pair-dedup operators reuse their materialized
    # result cache across reps (the documented contract), so the median is
    # a WARM number; the max sample is the rep that paid the full build.
    # Publishing both keeps the warm-reuse contract machine-readable
    # (r5 verdict item 7) instead of a footnote in SURVEY.
    cold: dict[str, float] = {}
    best: dict[str, float] = {}
    # Per-key dispersion [min, median, max, n_reps] (r15 verdict item
    # 7): the noise probe measured +-20-30% positional ambient noise, so
    # a single median invites chasing phantom regressions; the spread
    # says whether a round-over-round delta clears the key's own band.
    dispersion: dict[str, list[float]] = {}
    for name in HEADLINERS:
        fn = qs.get(name)
        if fn is None:
            continue
        samples = []
        for _ in range(reps_r1 if name in R1_SUBSET else reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(sorted(samples)[len(samples) // 2], 3)
        cold[name] = round(max(samples), 3)
        best[name] = round(min(samples), 3)
        dispersion[name] = [
            best[name], timings[name], cold[name], len(samples)
        ]
        print(
            f"  {name}: {timings[name]}s "
            f"(runs: {[round(s, 3) for s in sorted(samples)]})",
            file=sys.stderr,
        )
        fams = release_after.get(name)
        if fams:
            release_result_caches(*fams)

    # Catch-all for a family no key declares, and a clean JVM for the
    # composed weekly flow below.
    release_result_caches()

    # Composed weekly flow (side-effecting sink chain; not a queries()
    # key, so priced here rather than in HEADLINERS).
    wk = _bench_weekly_pipeline(spark, sf_dir, reps)
    timings["weekly_pipeline"] = round(sorted(wk)[len(wk) // 2], 3)
    cold["weekly_pipeline"] = round(max(wk), 3)
    best["weekly_pipeline"] = round(min(wk), 3)
    dispersion["weekly_pipeline"] = [
        best["weekly_pipeline"],
        timings["weekly_pipeline"],
        cold["weekly_pipeline"],
        len(wk),
    ]
    print(
        f"  weekly_pipeline: {timings['weekly_pipeline']}s "
        f"(runs: {[round(s, 3) for s in sorted(wk)]})",
        file=sys.stderr,
    )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "cold": cold,
        "best": best,
        "dispersion": dispersion,
        "r1_subset_total": round(
            sum(timings.get(k, 0.0) for k in R1_SUBSET), 3
        ),
        "r1_subset_best": round(
            sum(best.get(k, 0.0) for k in R1_SUBSET), 3
        ),
        "reps": reps,
        "reps_r1": reps_r1,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(payload))
    # The driver captures stdout with a tail that has truncated the warm
    # dict mid-JSON in past rounds (r8 verdict item 8), which blocks
    # full per-key regression diffs. Persist the complete payload to a
    # sibling artifact that gets committed, so every key is diffable
    # regardless of what the capture kept.
    try:
        out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_PERKEY.json")
        with open(out, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:  # bench numbers still printed; don't fail
        print(f"  BENCH_PERKEY.json not written: {exc}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
