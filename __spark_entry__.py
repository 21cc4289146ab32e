"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` maps every
implemented operator from SURVEY.md §2 to a (spark, sf_dir) -> DataFrame
callable; ``oracle_sql()`` holds the DuckDB-equivalent SQL for each
SQL-expressible key (rows-only keys are intentionally absent there).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    from abr_etl_spark.plans.analytics import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


# Priority head: the driver checks queries in registry order under a
# ~50-row budget, so the keys that most need a fresh CORRECTNESS row
# come first, ordered by need:
# 0. dedup_weighted_jaccard, rewritten in r17 with no driver row since;
# 1. keys whose plans were RESTRUCTURED in r16 (MMR fold, shared doc-df
#    frame, link-prediction edge cache, ann one-stream sweep, rule
#    census) -- none of them landed in the r16 driver sample because
#    the old priority head predated the rewrites;
# 2. keys whose cache LIFECYCLE changed in r17 (family-scoped release,
#    newly-registered persists) or whose internals r17 touches
#    (minhash/lsh cold build, stratified one-pass, rule prefix filter);
# 3. stalest rotation: keys with a row in NEITHER the r15 nor the r16
#    driver sample, alphabetical.
# Every other key follows in plans-module name order; all keys pass
# the local full-registry gate regardless.
PRIORITY: list[str] = [
    # --- 0. rewritten in r17, no post-rewrite driver row ---
    "dedup_weighted_jaccard",
    # --- 1. restructured in r16, no post-restructure driver row ---
    "mmr_diversify_topk",
    "mmr_lambda_sweep",
    "link_prediction_aa",
    "doc_idf_profile",
    "doc_boilerplate_simpson",
    "ann_nprobe_sweep",
    "ann_pareto_frontier",
    "association_rules",
    "rule_conviction",
    "rule_ancestor_prune",
    "delta_updated",
    "delta_added",
    "delta_removed",
    "delta_unchanged_count",
    "delta_classify_lake",
    # --- 2. r17 cache-lifecycle / internals changes ---
    "minhash_perm_sweep",
    "lsh_band_sweep",
    "stratified_reservoir_alloc",
    "dedup_simhash_clusters",
    "incremental_agg",
    "quantile_merge_by_source",
    "quantile_grid_sweep",
    "vocab_df_zipf",
    "source_df_zipf",
    "dedup_cross_source_matrix",
    "simhash_recall_by_tau",
    "dup_inflation_report",
    "ivfadc_nprobe_sweep",
    "ivfadc_trained_nprobe",
    "hll_merge_by_type",
    "kmv_merge_by_source",
    "cms_merge_by_source",
    "embedding_whiten_topk",
    "containment_pairs",
    "dedup_embedding",
    "dedup_incremental_probe",
    # --- 3. stalest rotation (no r15/r16 driver row), alphabetical ---
    "ab_test_conversion",
    "abc_classification",
    "acf_daily_lag",
    "ann_ivf",
    "ann_ivf_kmeans",
    "ann_ivf_pq",
    "ann_ivf_pq_kmeans",
    "ann_pq_adc",
    "ann_pq_kmeans",
    "anomaly_mad",
    "array_funcs",
    "asof_interpolate",
    "attribution_linear",
    "attribution_position",
    "basket_pairs",
    "benford_first_digit",
    "bigram_lm",
    "bloom_fpr_sweep",
    "bloom_membership",
    "bm25_topk",
    "boilerplate_line_census",
    "bootstrap_ci_poisson",
    "bpe_apply_merge",
    "bpe_encode_corpus",
    "bpe_learn_merges",
    "bpe_pair_counts",
    "bucketed_join_revenue",
    "chi2_event_dow",
    "cohort_ltv",
    "collocations_pmi",
]


def _registry() -> tuple[dict, dict, dict]:
    """Every ``plans/`` module's QUERIES, ORACLES and CACHE_FAMILIES,
    found by listing the package in name order. A module that fails to
    import raises (it would otherwise drop all its keys unseen), and so
    does a key that two modules define.

    CACHE_FAMILIES maps a key to every result-cache family its build
    registers or reuses when it starts from an empty session memo: that
    includes a family built inside a memoized value that another key
    may build first. tests/test_cache_families.py holds each module to
    it; bench.py releases a family after its last consumer."""
    import importlib
    import pkgutil

    import abr_etl_spark.plans as plans

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    families: dict[str, tuple[str, ...]] = {}
    owner: dict[str, str] = {}
    for info in sorted(pkgutil.iter_modules(plans.__path__), key=lambda i: i.name):
        m = importlib.import_module(f"{plans.__name__}.{info.name}")
        for k in m.QUERIES:
            if k in owner:
                raise ValueError(
                    f"queries() key {k!r} is defined by both "
                    f"{owner[k]} and {m.__name__}"
                )
            owner[k] = m.__name__
        queries.update(m.QUERIES)
        oracles.update(m.ORACLES)
        families.update(getattr(m, "CACHE_FAMILIES", {}))

    ordered = {k: queries[k] for k in PRIORITY if k in queries}
    ordered.update({k: v for k, v in queries.items() if k not in ordered})
    return ordered, oracles, families


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    return _registry()[1]


def cache_families() -> dict[str, tuple[str, ...]]:
    return _registry()[2]
