"""Regenerate PLAN_AUDIT.md: physical-plan shape inventory for EVERY
registered query — exchanges, broadcast vs sort-merge joins, Python
evaluation nodes — the one-glance evidence that the scale claims in
SCALE.md hold across the whole surface, not just the showcased plans.

Each query EXECUTES (collect at the audit sf) before its plan is read,
so counts reflect the FINAL adaptive plan — AQE's runtime broadcast
conversions and coalescing included; a compile-time audit would report
sort-merge joins that never actually run.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
(query names = audit only those and print their rows; PLAN_AUDIT.md is
rewritten only by a full run)
"""

from __future__ import annotations

import os
import sys

import measure

# Arrow-batched Pandas paths are the sanctioned exception (multimodal
# decode, arbitrary stateful sessions) — flagged separately from
# row-at-a-time Python UDFs, which must never appear.
ARROW_OK = {
    "multimodal_media_features",
    "multimodal_phash_dedup",
    "multimodal_audio_vad",
    "streaming_stateful_sessions",
    "streaming_ewma_daily",
}

# Big-big sort-merge joins adjudicated as load-bearing over the driver's
# plain parquet (round-6 VERDICT item 8): the fixture inputs are
# UNbucketed, so one clustering shuffle is the honest cost; the
# warehouse-resident co-bucketed deployment of the same plan is
# exchange-free and pinned by tests/test_bucketing.py::
# test_reconciliation_shape_on_bucketed_warehouse_zero_exchange.
SMJ_ADJUDICATED = {
    "cdc_snapshot_diff":
        "SMJ load-bearing on unbucketed fixture; bucketed shape pinned "
        "zero-exchange in test_bucketing",
    "governance_reconciliation_audit":
        "SMJ load-bearing on unbucketed fixture; bucketed shape pinned "
        "zero-exchange in test_bucketing",
    # r11 verdict item 8: the funnel's one SMJ joins the two PERSISTED
    # corpus-sized stage frames (scrub ledger x disposition ledger) —
    # both sides are legitimately big, neither qualifies for broadcast,
    # and the persist is what collapsed the funnel 72 -> 14 exchanges;
    # clustering once on doc_id is the honest cost of that reuse.
    "governance_release_funnel":
        "SMJ load-bearing: joins two persisted corpus-sized stage "
        "frames (stage-share persist is the r11 72->14 exchange win)",
    # r12: the incremental gate's disposition ledger joins the
    # PERSISTED batch frame against batch-scale annotation frames on
    # doc_id (in-batch dup first_id, released-set membership) — both
    # sides are batch-sized, neither qualifies for broadcast, and the
    # persist is what collapsed the query 86 -> 3 exchanges;
    # clustering once on doc_id is the honest cost of stage reuse.
    "curation_release_gate_incremental":
        "SMJ load-bearing: joins the persisted batch frame with "
        "batch-scale doc_id annotation frames (stage-share persist "
        "is the r12 86->3 exchange win)",
}

# Unpartitioned (single-reducer) Window nodes, sanctioned per site the
# way py-eval nodes are (r8 verdict item 5: 378 runtime "No Partition
# Defined for Window" warnings were invisible in this audit). A global
# window is legitimate ONLY over an aggregate-scale frame — O(groups),
# O(buckets), O(days), O(model) rows that have already been reduced —
# never over a row-scale frame (that hazard class is what
# assign_surrogate_keys' bulk regime exists for). Names are FAMILY
# PREFIXES mapped to the bounded frame the window runs over; a query
# whose plan shows a global Window and matches no entry fails the
# audit (exit 1), same as a row-at-a-time UDF.
#
# Sanction rule: the frame must be AGGREGATE-SCALE — bounded by a
# calendar (days/hours), a bucket count (two-level prefix pattern), a
# dimension table, a top-k output, or a tournament/strata summary —
# never by fact/event/user row counts. Each entry names its frame; a
# reviewer should be able to refute it by pointing at the window's
# input cardinality.
GLOBAL_WINDOW_OK: dict[str, str] = {
    # calendar-frame series (<= days/hours rows)
    "analytics_growth_accounting": "daily-series frame (calendar days)",
    "window_day_over_day_delta": "daily-series frame (calendar days)",
    "window_moving_avg_7d": "daily-series frame (calendar days)",
    "stats_runs_test": "daily-series frame (calendar days)",
    "timeseries_seasonal_anomaly":
        "daily residual/deviation frames (calendar days)",
    "timeseries_downsample_lttb":
        "daily-series frame (calendar days) + 1-row count",
    "timeseries_peak_concurrency":
        "per-hour bucket prefix (two-level pattern, O(#hours))",
    # two-level prefix finals over bounded bucket frames
    "text_vocab_growth": "doc-id bucket prefix (two-level pattern)",
    "stats_histogram_selectivity": "32-bucket equi-depth prefix",
    "stats_ks_two_sample": "distinct-value cent-bucket prefix",
    "stats_mann_whitney_u": "distinct-value cent-bucket prefix",
    "stats_kruskal_wallis": "distinct-value cent-bucket prefix",
    "analytics_user_concentration":
        "distinct-activity-count bucket prefix (per-user ranks retired "
        "r9: closed-form per-bucket rank sums)",
    # dimension-cardinality frames (warehouse dims / TPC-H dim tables)
    "fact_build_star":
        "dimension surrogate windows (dates/venues/categories/sources; "
        "fact keys use assign_surrogate_keys' bulk path above 1M)",
    "quality_five_checks":
        "same star build as fact_build_star (dim-cardinality frames) + "
        "5-row tiered-status frame",
    "olap_abc_classification":
        "part-dimension revenue rank (TPC-H dim table) + 1-row total",
    "olap_rfm_segmentation":
        "customer-dimension quintile cuts (TPC-H dim table)",
    "olap_pareto_frontier":
        "global skyline over LOCAL skyline survivors (two-phase; "
        "frame = per-partition frontier union, not the input)",
    # top-k / tournament / strata summary frames
    "text_bm25_search":
        "rank window AFTER TakeOrderedAndProject limit(k) — k-row frame",
    "sketch_kmv_set_ops":
        "bottom-k tournament final (n_salt*k rows) per sketch",
    "sketch_gk_error_audit":
        "exact-rank audit baseline (the sketch is the scale path; the "
        "audit pins its error at gate-runnable SFs by design)",
    "profile_key_skew":
        "per-key count frame ranked for the top-N hot-key report",
    "sample_stratified_exact":
        "strata-summary frames (targets + largest-remainder allocation "
        "over #strata rows)",
    "curation_pipeline_v3":
        "inherits sample_stratified_exact's strata-summary frames",
    "surrogate_keys_dense":
        "steady-state incremental batch (contract-pinned); bulk loads "
        "auto-select the range-partition + prefix-sum path above 1M "
        "rows (operators/upsert.py::assign_surrogate_keys)",
    "governance_quality_threshold_sweep":
        "reverse cumulative over the 10-row calibration-bin frame "
        "(post-aggregation; bins are least(milli div 1000, 9))",
    "text_leakage_attribution":
        "top-20 rank over the per-bench attribution frame — bounded "
        "by the FIXED eval suite (<= bench-id count at the capped id "
        "range), not the corpus",
}


def _sanction_global_window(name: str) -> str | None:
    """Reason the named query's global window is aggregate-scale, or
    None if unsanctioned. Checked per-query below; reasons surface in
    the notes column."""
    return GLOBAL_WINDOW_OK.get(name)


def count_global_windows(plan: str) -> int:
    """Count physical Window nodes with NO partition spec.

    A Window line carries bracketed argument groups after the node
    name: ``Window [exprs], [partitionBy], [orderBy]`` when partitioned
    AND ordered, ``Window [exprs], [orderBy]`` when GLOBAL ordered,
    ``Window [exprs], [partitionBy]`` when partitioned UNordered (an
    aggregate-over-partition frame — hash-partitioned, NOT global).
    The 2-group shapes disambiguate by content: an orderBy group
    carries sort directions (`ASC`/`DESC`); a partitionBy group is
    bare columns. An EMPTY trailing group (``Window.partitionBy()``
    with no order) is also global. Depth-tracked so nested brackets
    inside expressions don't split groups; verified against Spark 4.1
    executedPlan output."""
    import re

    n = 0
    for line in plan.splitlines():
        m = re.search(r"(?<![A-Za-z])Window \[", line)
        if not m:
            continue
        depth = 0
        groups: list[str] = []
        buf: list[str] = []
        for ch in line[m.end() - 1:]:
            if ch == "[":
                if depth == 0:
                    buf = []
                else:
                    buf.append(ch)
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                else:
                    buf.append(ch)
            elif depth > 0:
                buf.append(ch)
        if len(groups) == 2:
            tail = groups[1]
            if tail.strip() == "" or re.search(r"\b(ASC|DESC)\b", tail):
                n += 1
    return n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from _event_intelligence_data_warehouse_spark import cache
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    names = sys.argv[2:] or list(QUERIES)
    unknown = [q for q in names if q not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = measure.session("eidw-plan-audit")

    rows = []
    row_udf_offenders = []
    global_window_offenders = []
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            df.collect()  # drive to completion so AQE finalizes the plan
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # pragma: no cover
            rows.append((name, "-", "-", "-", "-", "-", f"ERROR {exc}"))
            continue
        # Keep only the final adaptive plan; the "Initial Plan" section
        # repeats the pre-AQE tree and would double-count.
        plan = plan.split("== Initial Plan ==")[0]
        n_ex = plan.count("Exchange")
        n_bc = plan.count("BroadcastHashJoin") + plan.count(
            "BroadcastNestedLoopJoin"
        )
        n_smj = plan.count("SortMergeJoin")
        arrow = plan.count("ArrowEvalPython") + plan.count(
            "FlatMapGroupsInPandas"
        ) + plan.count("MapInPandas") + plan.count(
            "ApplyInPandasWithState"
        )
        row_udf = plan.count("BatchEvalPython")
        if row_udf:
            row_udf_offenders.append(name)
        n_gw = count_global_windows(plan)
        notes = []
        if n_ex == 0:
            notes.append("shuffle-free")
        if arrow:
            notes.append("arrow-batched pandas (sanctioned)")
        if name in SMJ_ADJUDICATED and n_smj:
            notes.append(SMJ_ADJUDICATED[name])
        if n_gw:
            reason = _sanction_global_window(name)
            if reason:
                notes.append(f"global window sanctioned: {reason}")
            else:
                global_window_offenders.append(name)
                notes.append("GLOBAL WINDOW UNSANCTIONED")
        rows.append(
            (name, str(n_ex), str(n_bc), str(n_smj),
             str(arrow + row_udf), str(n_gw), "; ".join(notes))
        )
        cache.release_all()

    out = [
        "# PLAN_AUDIT — physical-plan shape per registered query",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}` "
        "(queries executed; counts are over the FINAL adaptive plan, so "
        "AQE's runtime broadcast conversions are reflected).",
        "",
        "Columns: exchanges (shuffle/broadcast materialization points), "
        "broadcast joins, sort-merge joins, python-eval nodes "
        "(Arrow-batched Pandas only — row-at-a-time BatchEvalPython is "
        "a hard failure), global windows (unpartitioned Window nodes — "
        "legitimate only over aggregate-scale frames; every nonzero "
        "count carries a per-site sanction in notes, an unsanctioned "
        "one is a hard failure).",
        "",
        "| query | exchanges | bcast joins | sortmerge | py-eval "
        "| glob-win | notes |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in sorted(rows):
        out.append("| " + " | ".join(r) + " |")
    out.append("")
    if row_udf_offenders:
        out.append(
            "**ROW-AT-A-TIME PYTHON UDFS FOUND**: "
            + ", ".join(row_udf_offenders)
        )
    else:
        out.append(
            "No row-at-a-time Python UDF (BatchEvalPython) anywhere; every "
            "python-eval node is an Arrow-batched Pandas operator in "
            f"{sorted(ARROW_OK)}."
        )
    out.append("")
    if global_window_offenders:
        out.append(
            "**UNSANCTIONED GLOBAL WINDOWS FOUND**: "
            + ", ".join(sorted(global_window_offenders))
        )
    else:
        out.append(
            "No unsanctioned global (unpartitioned) Window nodes: every "
            "nonzero glob-win row carries an aggregate-scale sanction "
            "from tools/plan_audit.py GLOBAL_WINDOW_OK."
        )
    out.append("")
    if sys.argv[2:]:
        # A subset run must not replace the full audit with its rows.
        print("\n".join(out))
    else:
        with open(os.path.join(measure.REPO, "PLAN_AUDIT.md"), "w") as f:
            f.write("\n".join(out))
        print(f"wrote PLAN_AUDIT.md ({len(rows)} queries)")
    if global_window_offenders:
        print("UNSANCTIONED GLOBAL WINDOWS:",
              ", ".join(sorted(global_window_offenders)))
    if row_udf_offenders or global_window_offenders:
        sys.exit(1)


if __name__ == "__main__":
    main()
