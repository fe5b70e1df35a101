"""sf0.1 -> sf1 scaling probe for the HEAVY families (round-6 VERDICT
item 5): dedup, similarity/ANN, graph, text, plus the widest warehouse
joins — one true 10x step ABOVE the driver's largest shipped SF, so a
super-linear term that hides in the 0.01->0.1 probes' fixed-cost floor
has nowhere left to hide.

Spark-only (noop sink — the full plan executes, nothing materializes to
the driver); the sf1 input is the deterministic local scale-up built by
tools/make_scaled_sf.py (built automatically if absent). Results are
appended to SCALING.md as an "## sf1 probe" appendix section, which
tools/scaling_curve.py preserves across regenerations.

Usage: python tools/scale_sf1_probe.py [--gate 15] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from functools import partial

import measure

SF1_DIR = os.path.join(measure.REPO, ".scaled", "sf1")

# Heavy-family representatives. Criteria: iterative (CC/PageRank/k-core),
# candidate-generating (LSH/IVF/PQ), corpus-quadratic-risk (Jaccard,
# winnowing, substrings), or the widest shuffling joins. The text
# entries double as VERDICT item 6: documents is 10x BIGGER at sf1, so
# text_winnowing_fingerprints finally has a real denominator.
PROBE = [
    # dedup
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_connected_components",
    "dedup_minhash_incremental",
    "dedup_ngram_jaccard",
    "dedup_exact_substrings",
    "dedup_containment_pairs",
    "dedup_cluster_density",
    "dedup_kcore_survivors",
    "dedup_semantic",
    # similarity / ANN
    "similarity_topk_bruteforce",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "similarity_pq_topk",
    "similarity_ivfpq_topk",
    "embedding_covariance_exact",
    # graph
    "graph_pagerank",
    "graph_khop_reachability",
    "entity_resolution_clusters",
    # text (true 10x documents step — VERDICT item 6)
    "text_winnowing_fingerprints",
    "text_decontaminate",
    "text_bpe_encode",
    "text_bm25_search",
    "text_phrase_search",
    "text_pmi_collocations",
    # warehouse / OLAP widest shuffles
    "fact_build_star",
    "olap_nation_market_share",
    "governance_reconciliation_audit",
    "streaming_stateful_sessions",
    # round-7 additions (knn graph + v5 exercise the IVF-bounded
    # regime here — corpus > KNN_EXACT_MAX_VECTORS at both SFs)
    "graph_label_propagation",
    "similarity_knn_graph",
    "curation_pipeline_v5",
    "multimodal_audio_vad",
    "timeseries_downsample_lttb",
    # round-8 additions
    "similarity_ivf_range_search",
    "dedup_global_lines",
    # round-9 additions (dbscan runs the sqrt-n cell regime here, like
    # dedup_semantic; rouge joins the 10x documents step)
    "similarity_dbscan_clusters",
    "text_rouge2_contamination",
    "basket_frequent_itemsets",
    "graph_common_neighbors",
    "sql_recursive_event_chains",
    "graph_clustering_coefficient",
    "similarity_matryoshka_recall",
    "curation_pipeline_v6",
    # round-10 additions: the steady-state APPLY/SERVE increments (r9
    # verdict item 6 — the paths a 100 TB deployment runs daily were
    # benched at sf0.1 but never probed at the 10x step) plus the two
    # new curation compositions
    "dedup_semantic_incremental",
    "similarity_ivf_incremental",
    "curation_loss_mask_spans",
    "curation_pipeline_v7",
    "curation_packing_efficiency",
    "curation_dedup_aware_mixture",
    "text_pii_scrub",
    "governance_pii_exposure",
    "curation_contamination_matrix",
    # round-11 additions (r10 verdict item 7): the storage/streaming
    # family whose file-pruning and bounded-state behaviors ARE the
    # 100 TB story — DV merge-on-read, Z-order skipping, JSONL export,
    # the MERGE upsert path, and streaming CDC view maintenance
    "storage_dv_roundtrip",
    "storage_zorder_scan_roundtrip",
    "storage_jsonl_export_roundtrip",
    "upsert_merge_latest_state",
    "streaming_ivm_cdc_view",
    # round-11 new queries
    "text_token_decontaminate",
    "curation_release_gate",
    "governance_contamination_trend",
    "governance_quality_calibration",
    "governance_release_funnel",
    "governance_quality_threshold_sweep",
    # round-12 new queries: the production decontamination
    # configuration, the steady-state incremental gate, the leakage
    # attribution rollup and the committed dataset card
    "text_token_decontaminate_fast",
    "curation_release_gate_incremental",
    "text_leakage_attribution",
    "governance_dataset_card",
]

# Rows whose same-code A/A spread exceeded ~2x in the r10 four-run
# disclosure (SCALING.md r10 appendix): a single observation of these
# cannot distinguish "fine" from "investigate", so they ALWAYS get the
# full median-of-reps treatment (r10 verdict item 2).
HIGH_SPREAD = {
    "similarity_knn_graph",
    "curation_pipeline_v6",
    "dedup_semantic",
    "dedup_semantic_incremental",
    "text_winnowing_fingerprints",
    # r11 verdict item 5: the ratio breathed 8.4x/6.3x/7.6x ACROSS box
    # intervals even under median-of-3 — its reps and denominators are
    # now interval-pinned (see the row-contiguous re-measurement pass)
    "dedup_containment_pairs",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--gate", type=float, default=15.0)
    ap.add_argument(
        "--out", default=os.path.join(measure.REPO, "SCALING.md")
    )
    ap.add_argument(
        "--reps", type=int, default=3,
        help="measurements per SF for high-spread/near-gate rows "
             "(median taken); other rows keep a single run",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    if not os.path.exists(os.path.join(SF1_DIR, "lineitem.parquet")):
        subprocess.run(
            [sys.executable,
             os.path.join(measure.REPO, "tools", "make_scaled_sf.py")],
            check=True,
        )

    from _event_intelligence_data_warehouse_spark import cache
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    spark = measure.session("sf1-probe")

    probe = args.queries or PROBE
    sf_pairs = (("/root/testdata/sf0.1", "sf0.1"), (SF1_DIR, "sf1"))

    def _measure(q: str, sf_dir: str, key: str) -> float:
        try:
            rec = measure.run(spark, q, partial(QUERIES[q], spark, sf_dir))
            return round(rec["wall_s"], 2)
        except Exception as e:
            print(f"ERR {q}@{key}: {type(e).__name__}: {e}",
                  file=sys.stderr)
            return float("nan")
        finally:
            cache.release_all()

    # Pass 1: one measurement per (query, SF) — the sf0.1 denominators
    # come from the SAME session as the sf1 numerators by construction
    # (r10 verdict item 2).
    samples: dict[str, dict[str, list[float]]] = {}
    for sf_dir, key in sf_pairs:
        measure.warm(spark, sf_dir)
        cache.release_all()
        for q in probe:
            samples.setdefault(q, {}).setdefault(key, []).append(
                _measure(q, sf_dir, key)
            )

    # Median-of-reps for rows a single observation cannot adjudicate
    # (r10 verdict item 2: the four-run A/A disclosure measured +-40%
    # same-code movement on the heavy rows): every HIGH_SPREAD row, and
    # every row whose provisional ratio is inside the gate's noise band
    # (> gate/2), is RE-measured from scratch ROW-CONTIGUOUSLY — all
    # reps AND both SF denominators of the row run back-to-back inside
    # one box interval, alternating sf0.1/sf1, with the row's
    # wall-clock interval recorded and reported (r11 verdict item 5:
    # median-of-3 bounded within-session noise but not cross-hour
    # drift — dedup_containment_pairs' ratio breathed 8.4x/6.3x/7.6x
    # when its reps were spread across the whole probe's duration).
    # The pass-1 observations of these rows are DISCARDED: mixing a
    # measurement from an earlier interval back into the median would
    # re-introduce exactly the drift being pinned out.
    def _ratio(q: str) -> float:
        a = samples[q]["sf0.1"][0]
        b = samples[q]["sf1"][0]
        if a != a or b != b or a <= 0:
            return float("nan")
        return b / a

    extras = [
        q for q in probe
        if q in HIGH_SPREAD
        or (_ratio(q) == _ratio(q) and _ratio(q) > args.gate / 2)
    ]
    intervals: dict[str, str] = {}
    for q in extras:
        samples[q] = {"sf0.1": [], "sf1": []}
        t_start = time.strftime("%H:%M", time.gmtime())
        for _rep in range(max(args.reps, 1)):
            for sf_dir, key in sf_pairs:
                samples[q][key].append(_measure(q, sf_dir, key))
        intervals[q] = f"{t_start}-{time.strftime('%H:%M', time.gmtime())}Z"

    import statistics

    times: dict[str, dict[str, float]] = {}
    runs: dict[str, int] = {}
    for q in probe:
        runs[q] = len(samples[q]["sf1"])
        for key in ("sf0.1", "sf1"):
            vals = [v for v in samples[q][key] if v == v]
            times.setdefault(q, {})[key] = (
                round(statistics.median(vals), 2) if vals else float("nan")
            )

    flagged = []
    lines = [
        "## sf1 probe — heavy families at a true 10x step above sf0.1",
        "",
        "Generated by `tools/scale_sf1_probe.py` over the deterministic",
        "local sf1 scale-up (`tools/make_scaled_sf.py`: 6M lineitem, 1M",
        "events, 50k token-rewritten documents, 20k perturbed vectors —",
        "construction notes in that tool's docstring). Same",
        f"{args.gate:.0f}x gate as the shipped-SF curves; at this size",
        "fixed costs no longer mask a super-linear term. Both columns",
        "are measured in the SAME session; rows with runs > 1 report",
        "the per-SF MEDIAN of that many measurements, ALL taken",
        "row-contiguously (reps and both SF denominators back-to-back,",
        "alternating SFs) inside the one box interval shown in the",
        "interval column — r11 verdict item 5: cross-hour drift cannot",
        "enter a row's ratio when the whole row samples one interval.",
        "",
        "| query | sf0.1 s | sf1 s | ratio | runs | interval |",
        "|---|---|---|---|---|---|",
    ]
    for q in probe:
        a, b = times[q].get("sf0.1"), times[q].get("sf1")
        r = runs.get(q, 1)
        iv = intervals.get(q, "-")
        if a is None or b is None or a != a or b != b:
            lines.append(f"| {q} | {a} | {b} | ERR | {r} | {iv} |")
            flagged.append(f"{q}: errored")
            continue
        ratio = b / a if a > 0 else float("inf")
        mark = ""
        if ratio > args.gate:
            mark = " **SUPER-LINEAR**"
            flagged.append(f"{q}: {a:.2f}s -> {b:.2f}s ({ratio:.1f}x)")
        lines.append(
            f"| {q} | {a:.2f} | {b:.2f} | {ratio:.1f}x{mark} | {r} "
            f"| {iv} |"
        )
    lines += ["", f"Gate: {'FAILED — ' + '; '.join(flagged) if flagged else 'clean'}", ""]

    # A SUBSET run (explicit query names) must not replace the full
    # probe record with its few rows — print only.
    if args.queries:
        print(json.dumps({"flagged": flagged, "times": times}))
        sys.exit(1 if flagged else 0)
    # Replace (or append) the "## sf1 probe" section in SCALING.md,
    # leaving everything else untouched.
    section = "\n".join(lines)
    try:
        with open(args.out) as f:
            old = f.read()
    except OSError:
        old = ""
    start = old.find("## sf1 probe")
    if start != -1:
        end = old.find("\n## ", start + 1)
        new = old[:start] + section + (old[end + 1:] if end != -1 else "")
    else:
        new = old.rstrip("\n") + "\n\n" + section
    with open(args.out, "w") as f:
        f.write(new)
    print(json.dumps({"flagged": flagged, "times": times}))
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
