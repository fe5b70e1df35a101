"""Empirical scaling curves: run the dedup / ANN / text / warehouse
family representatives at sf0.001, sf0.01 and sf0.1 and write
SCALING.md with per-query wall-time curves plus a growth gate.

This is the empirical companion to SCALE.md's design claims: a family
whose sf0.01 -> sf0.1 wall-time ratio exceeds GATE_RATIO on a 10x data
step has a super-linear term (the shape that would have exposed the
round-2 IVF training defect one round early), and the tool exits
non-zero so CI/judge runs notice. Sub-linear ratios are normal at these
sizes — fixed costs (Spark boot, planning, small-file overhead)
dominate the small SFs.

Usage: python tools/scaling_curve.py [--out SCALING.md]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from functools import partial

import measure

SFS = ["0.001", "0.01", "0.1"]

# family -> representative contract queries (one timing per query per SF)
FAMILIES = {
    "dedup": [
        "dedup_exact",
        "dedup_minhash_lsh_pairs",
        "dedup_minhash_incremental",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_connected_components",
        "dedup_exact_substrings",
    ],
    "similarity": [
        "similarity_topk_bruteforce",
        "similarity_lsh_topk",
        "similarity_ivf_topk",
        "similarity_pq_topk",
        "similarity_ivfpq_topk",
        "similarity_ivfpq_residual_topk",
        "dedup_semantic",
    ],
    "text": [
        "text_quality_score",
        "text_winnowing_fingerprints",
        "text_decontaminate",
        "text_pack_sequences",
        "text_boilerplate_lines",
        "text_bpe_pair_stats",
        "sketch_bloom_membership",
        "text_lm_surprise",
        "text_bpe_encode",
    ],
    "warehouse": [
        "fact_build_star",
        "quality_five_checks",
        "rollup_cascade_daily",
    ],
    "curation": [
        "curation_pipeline",
        "curation_pipeline_v2",
        "curation_mixture_sample",
        "split_leakage_safe",
        "split_kfold_leakage_safe",
        "curation_dsir_affinity",
        "sample_stratified_exact",
        "embedding_contrastive_pairs",
        # round-5 additions
        "text_gopher_filters",
        "curation_mixture_temperature",
        "curation_prototypes",
        "dedup_semantic_incremental",
    ],
    # late-r5 link-analysis / enrichment family
    "enrichment": [
        "graph_pagerank",
        "graph_pagerank_incremental",
        "join_fuzzy_blocked",
        "text_bm25_search",
        "events_markov_transitions",
        "text_vocab_growth",
        "stats_bootstrap_mean_ci",
        "timeseries_ohlc_hourly",
        "storage_dv_roundtrip",
    ],
    # round-5 second-session families: canonical OLAP shapes,
    # statistical screens, recurrence folds, linkage, analytics
    "olap": [
        "olap_pricing_summary",
        "olap_shipping_priority",
        "olap_local_supplier_volume",
        "olap_small_order_revenue",
        "olap_large_orders",
        "olap_customer_order_histogram",
        "olap_single_late_supplier",
    ],
    "screens": [
        "stats_benford_screen",
        "stats_group_variance",
        "basket_part_pair_lift",
        "timeseries_ewma_daily",
        "timeseries_holt_forecast",
        "graph_khop_reachability",
        "text_pmi_collocations",
        "text_keyword_chi2",
        "linkage_fellegi_sunter",
        "analytics_rolling_wau",
        "governance_reconciliation_audit",
        "storage_partition_evolution_roundtrip",
    ],
    # round-5 third-session families: the widest snowflake + grouped
    # join-back, sketch set algebra, prefix-sum cumulative shapes,
    # sweep-line concurrency, schema-evolution and Z-order roundtrips,
    # Bloom-gated landing dedup, FD profiling, incremental IVF serving
    "r5s3": [
        "olap_nation_market_share",
        "olap_dominant_supply_share",
        "olap_min_cost_supplier",
        "olap_pareto_frontier",
        "olap_rfm_segmentation",
        "sketch_kmv_set_ops",
        "stats_ks_two_sample",
        "agg_quantiles_interpolated",
        "timeseries_peak_concurrency",
        "timeseries_interpolate_linear",
        "analytics_activity_streaks",
        "governance_functional_deps",
        "similarity_ivf_incremental",
        "dedup_bloom_prefilter_incremental",
        "storage_schema_evolution_roundtrip",
        "storage_zorder_scan_roundtrip",
    ],
    # round-6 families: graph peeling, robust/changepoint stats,
    # covariance/PCA model build, IVM (batch + streamed), phrase search.
    "r6": [
        "dedup_kcore_survivors",
        "stats_theil_sen_trend",
        "stats_changepoint_daily",
        "embedding_covariance_exact",
        "ivm_retraction_roundtrip",
        "streaming_ivm_cdc_view",
        "text_phrase_search",
        "text_proximity_search",
        "stats_hodges_lehmann",
        "sketch_join_size_estimate",
        "stats_histogram_selectivity",
        "stats_mann_kendall",
        "stats_kruskal_wallis",
    ],
    # round-7 family: synchronous LPA, the mutual-kNN self-join,
    # manifest compaction, integer LTTB, Spearman rank fold.
    "r7": [
        "graph_label_propagation",
        "similarity_knn_graph",
        "storage_compaction_roundtrip",
        "timeseries_downsample_lttb",
        "stats_spearman_daily",
    ],
}

# 10x data may cost up to this factor before the gate trips. Chosen
# above linear (10x) to absorb cache/JIT/scheduling noise at small SFs,
# below quadratic territory (100x): a super-linear operator blows past
# it immediately (the r2 IVF defect measured ~30x here).
GATE_RATIO = 15.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--out", default=os.path.join(measure.REPO, "SCALING.md")
    )
    ap.add_argument("--testdata", default="/root/testdata")
    args = ap.parse_args()

    from _event_intelligence_data_warehouse_spark import cache
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    spark = measure.session("scaling-curve")

    names = [q for qs in FAMILIES.values() for q in qs]
    times: dict[str, dict[str, float]] = {q: {} for q in names}
    for sf in SFS:
        sf_dir = os.path.join(args.testdata, f"sf{sf}")
        measure.warm(spark, sf_dir)
        cache.release_all()
        for q in names:
            rec = measure.run(spark, q, partial(QUERIES[q], spark, sf_dir))
            times[q][sf] = round(rec["wall_s"], 2)
            cache.release_all()

    flagged: list[str] = []
    lines = [
        "# SCALING — measured wall-time curves (local[32])",
        "",
        "Generated by `tools/scaling_curve.py`: every family",
        "representative through the noop sink at three scale factors",
        "(10x data per step). The gate flags any query whose",
        f"sf0.01 -> sf0.1 ratio exceeds {GATE_RATIO:.0f}x — the",
        "super-linear signature (the round-2 IVF training defect",
        "measured ~30x on this probe). Sub-10x ratios are expected",
        "here: fixed costs dominate the small scale factors.",
        "",
        "| family | query | sf0.001 s | sf0.01 s | sf0.1 s | 0.01→0.1 ratio |",
        "|---|---|---|---|---|---|",
    ]
    for fam, qs in FAMILIES.items():
        for q in qs:
            t1, t2, t3 = (times[q][sf] for sf in SFS)
            ratio = t3 / t2 if t2 > 0 else float("inf")
            mark = ""
            if ratio > GATE_RATIO:
                mark = " **SUPER-LINEAR**"
                flagged.append(f"{q}: {t2:.2f}s -> {t3:.2f}s ({ratio:.1f}x)")
            lines.append(
                f"| {fam} | {q} | {t1:.2f} | {t2:.2f} | {t3:.2f} "
                f"| {ratio:.1f}x{mark} |"
            )
    lines += [
        "",
        f"Gate: {'FAILED — ' + '; '.join(flagged) if flagged else 'clean'}",
        "",
    ]
    # Hand-written appendix sections (e.g. the r5 winnowing-ratio
    # attribution) survive regeneration: everything from the first
    # "## " heading of the existing file is carried over verbatim.
    try:
        with open(args.out) as f:
            old = f.read()
        idx = old.find("\n## ")
        if idx != -1:
            lines.append(old[idx + 1:])
    except OSError:
        pass
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(json.dumps({"flagged": flagged, "queries": times}))
    for msg in flagged:
        print(f"SUPER-LINEAR {msg}", file=sys.stderr)
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
