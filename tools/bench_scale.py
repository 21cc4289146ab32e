#!/usr/bin/env python3
"""Scale ladder: time one family of queries() keys at two scale factors
in one process and report each key's wall-clock ratio against the 10x
data step. tools/gen_scale.py derives the bigger scale factors from the
driver's sf0.1 by LINEAR replication (token-remapped copies, key shifts,
per-copy orthogonal embedding maps), so a ratio far past 10x is a
superlinear term the key's documented fan-out bound missed, and ~10x or
below means the bound holds.

    python tools/bench_scale.py FAMILY BIG_DIR SMALL_DIR

Families (FAMILIES below) and the artifact each one writes:

    heavy       sf1 vs sf0.1   BENCH_sf1.json, plus the composed
                               weekly_pipeline row (bench.py's harness)
    scan10      sf10 vs sf1    BENCH_sf10.json
    scan100     sf100 vs sf10  BENCH_sf100.json, scan section
    shuffle100  sf100 vs sf10  BENCH_sf100.json, shuffle_keys section

Every family: one JVM warm-up, then per key and size
$SPARK_GRAFT_BENCH_REPS reps (family default otherwise); the MEDIAN is
the figure and the max is the cold figure (a key that materializes a
result cache builds it on rep 1, so its median prices the cached read
and its max the build). Result caches are released after each size.
The artifact is updated in place, so the other family sharing
BENCH_sf100.json keeps its section. shuffle100 keeps every run in
``shuffle_keys_runs`` and reports the per-key MIN over runs: single-box
sf100 walls carry cold-I/O and GC artifacts that hit different keys in
different runs (BENCH_NOISE_PROBE.json). Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: keys whose documented 100 TB cost is "the scan" (one pass + bounded
#: reductions): the TPC-H aggregate headliners, the delta/CDC family
#: and the events-table day-grain monitors.
_SCAN_CORE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q12_shipping_buckets",
    "q14_promo_revenue",
    "delta_updated",
    "delta_classify_lake",
    "scd2",
    "incremental_agg",
    "sessionize",
    "daily_value_bands",
    "seasonal_index_dow",
    "holt_winters_forecast",
]

FAMILIES: dict[str, dict] = {
    # the heavy families: dedup pairs, ANN/IVFADC, delta/merge, the top
    # keys by cold time, scan-shaped headliners for the baseline ratio,
    # and the corpus-shaped census/reservoir/day-grain keys
    "heavy": {
        "out": "BENCH_sf1.json",
        "sizes": ("sf01", "sf1"),
        "reps": 3,
        "weekly": True,
        "header": lambda reps: {
            "metric": "sf1_scale_rehearsal", "unit": "sec", "reps": reps,
        },
        "keys": [
            "dedup_exact",
            "dedup_ngram_jaccard",
            "dedup_minhash_lsh",
            "dedup_simhash",
            "dedup_canonical",
            "dedup_weighted_jaccard",
            "ann_bruteforce",
            "ann_ivf_kmeans",
            "ann_pq_adc",
            "ann_ivf_pq",
            "ivfadc_nprobe_sweep",
            "delta_updated",
            "delta_classify_lake",
            "scd2",
            "incremental_agg",
            "lsh_band_sweep",
            "embedding_pca_topk",
            "simhash_recall_by_tau",
            "mmr_lambda_sweep",
            "containment_pairs",
            "q1_pricing_summary",
            "q3_shipping_priority",
            "holt_winters_seasonal",
            "spearman_rho_daily",
            "funnel_dropoff",
            "funnel_time_to_convert",
            "page_hinkley_drift",
            "weighted_reservoir_sample",
            "vocab_df_zipf",
            "doc_idf_profile",
            "doc_boilerplate_simpson",
            "source_df_zipf",
            "q2_min_cost_supplier",
        ],
    },
    # the scan core plus the pair/ANN candidate machinery and the
    # corpus-shaped keys, Spark-only: the oracle-checked slice of the
    # ladder stays at sf1 (CORRECTNESS_sf1.json)
    "scan10": {
        "out": "BENCH_sf10.json",
        "sizes": ("sf1", "sf10"),
        "reps": 3,
        "header": lambda reps: {
            "metric": "sf10_scale_decade_spark_only", "unit": "sec",
            "reps": reps,
        },
        "keys": _SCAN_CORE + [
            "dq_completeness",
            "dedup_exact",
            "dedup_ngram_jaccard",
            "dedup_minhash_lsh",
            "dedup_simhash",
            "containment_pairs",
            "dedup_weighted_jaccard",
            "ann_bruteforce",
            "ann_ivf_pq",
            "lsh_band_sweep",
            "doc_idf_profile",
            "doc_boilerplate_simpson",
            "vocab_df_zipf",
            "source_df_zipf",
            "weighted_reservoir_sample",
            "holt_winters_seasonal",
            "page_hinkley_drift",
            "spearman_rho_daily",
            "funnel_time_to_convert",
            "q2_min_cost_supplier",
        ],
    },
    # the pure scan shapes only: at sf100 the pair/ANN families' answer
    # sets, not their plans, dominate the wall
    "scan100": {
        "out": "BENCH_sf100.json",
        "sizes": ("sf10", "sf100"),
        "reps": 2,
        "header": lambda reps: {
            "metric": "sf10_to_sf100_scan_family",
            "method": f"median of {reps} reps per size, one run",
        },
        "keys": _SCAN_CORE + [
            "holt_winters_seasonal",
            "holt_winters_additive",
            "dq_completeness",
            "page_hinkley_drift",
            "sprt_conversion_monitor",
            "markov_attribution",
            "funnel_time_to_convert",
            "weighted_reservoir_sample",
            "stratified_reservoir_alloc",
        ],
    },
    # keys whose 100 TB cost is a key-partitioned shuffle: the
    # reference's CDC end to end and the fact-to-fact joins.
    # bucketed_join_revenue is absent: at sf100 it would write a second
    # ~20 GB bucketed copy of lineitem.
    "shuffle100": {
        "out": "BENCH_sf100.json",
        "sizes": ("sf10", "sf100"),
        "reps": 2,
        "section": "shuffle",
        "keys": [
            "delta_apply_roundtrip",
            "q5_local_supplier",
            "profit_by_nation_year",
        ],
    },
}


def _median(xs: list[float]) -> float:
    return sorted(xs)[len(xs) // 2]


def _ratio(big: float, small: float) -> float | None:
    return round(big / small, 2) if small else None


def _worst(rows: dict, field: str) -> tuple[str, float | None]:
    key = max(rows, key=lambda k: rows[k][field] or 0)
    return key, rows[key][field]


def _time_family(fam: dict, big_dir: str, small_dir: str, reps: int) -> dict:
    """{key: {<size>_median_s, <size>_cold_s, ratio, cold_ratio}} for
    every key of ``fam`` (and weekly_pipeline when it asks for it)."""
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    from abr_etl_spark.functions.cache import release_result_caches
    from abr_etl_spark.session import get_spark

    spark = get_spark("abr-etl-bench-scale")
    qs = entry.queries()
    qs["q1_pricing_summary"](spark, small_dir).count()  # JVM warm

    def samples(key: str, sf_dir: str) -> list[float]:
        if key == "weekly_pipeline":
            # the composed reference-parity flow is not a queries() key
            # (it writes merge state to temp dirs), so it rides
            # bench.py's harness
            import bench

            return bench._bench_weekly_pipeline(spark, sf_dir, reps)
        out = []
        for _ in range(reps):
            t0 = time.perf_counter()
            qs[key](spark, sf_dir).count()
            out.append(time.perf_counter() - t0)
        return out

    small, big = fam["sizes"]
    rows: dict[str, dict] = {}
    for key in fam["keys"] + (["weekly_pipeline"] if fam.get("weekly") else []):
        row = {}
        for label, sf_dir in ((small, small_dir), (big, big_dir)):
            walls = samples(key, sf_dir)
            release_result_caches()
            row[f"{label}_median_s"] = round(_median(walls), 3)
            row[f"{label}_cold_s"] = round(max(walls), 3)
        row["ratio"] = _ratio(row[f"{big}_median_s"], row[f"{small}_median_s"])
        row["cold_ratio"] = _ratio(row[f"{big}_cold_s"], row[f"{small}_cold_s"])
        rows[key] = row
        print(json.dumps({key: row}), file=sys.stderr, flush=True)
    spark.stop()
    return rows


def _summary(fam: dict, rows: dict, big_dir: str, reps: int) -> dict:
    small, big = fam["sizes"]
    worst, cold_worst = _worst(rows, "ratio"), _worst(rows, "cold_ratio")
    return {
        **fam["header"](reps),
        f"{big}_dir": big_dir,
        "keys": rows,
        f"sum_{small}_s": round(sum(r[f"{small}_median_s"] for r in rows.values()), 3),
        f"sum_{big}_s": round(sum(r[f"{big}_median_s"] for r in rows.values()), 3),
        "worst_ratio_key": worst[0],
        "worst_ratio": worst[1],
        "worst_cold_ratio_key": cold_worst[0],
        "worst_cold_ratio": cold_worst[1],
    }


def _min_of_runs(fam: dict, prior: dict, rows: dict, reps: int) -> dict:
    """The section's fields after appending this run to the prior runs."""
    sec = fam["section"]
    small, big = fam["sizes"]
    runs = prior.get(f"{sec}_keys_runs", []) + [rows]
    merged = {}
    for key in fam["keys"]:
        cands = [r[key] for r in runs if key in r]
        best_small = min(c[f"{small}_median_s"] for c in cands)
        best_big = min(c[f"{big}_median_s"] for c in cands)
        merged[key] = {
            f"{small}_median_s": best_small,
            f"{big}_median_s": best_big,
            "ratio": _ratio(best_big, best_small),
        }
    return {
        f"{sec}_keys": merged,
        f"{sec}_keys_runs": runs,
        f"{sec}_method": (
            f"per-key MIN of {len(runs)} independent run(s), reps={reps} "
            "medians each (BENCH_NOISE_PROBE.json); heap = "
            + os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        ),
        f"{sec}_worst_ratio": _worst(merged, "ratio")[1],
    }


def main() -> int:
    if len(sys.argv) != 4 or sys.argv[1] not in FAMILIES:
        raise SystemExit(__doc__)
    name, big_dir, small_dir = sys.argv[1:]
    fam = FAMILIES[name]
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", str(fam["reps"])))
    rows = _time_family(fam, big_dir, small_dir, reps)

    path = os.path.join(ROOT, fam["out"])
    payload = {}
    if os.path.exists(path):
        with open(path) as fh:
            payload = json.load(fh)
    if "section" in fam:
        fields = _min_of_runs(fam, payload, rows, reps)
    else:
        fields = _summary(fam, rows, big_dir, reps)
    payload.update(fields)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    print(json.dumps(fields))
    return 0


if __name__ == "__main__":
    sys.exit(main())
