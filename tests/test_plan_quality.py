"""Physical-plan regression tests: the scale properties SCALE.md claims
(pushdown, broadcast star joins, shuffle-free projections) asserted
against the actual executed plans, so a refactor that silently introduces
an exchange or drops a pushed filter fails CI, not the 100 TB run.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown_and_column_pruning(spark):
    from _event_intelligence_data_warehouse_spark.contract import load

    df = load(spark, SF, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_totalprice")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], "status filter not pushed to the parquet scan"
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_comment" not in read_schema, "column pruning lost"


def test_star_join_broadcasts_all_dims(spark):
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    plan = _plan(QUERIES["fact_build_star"](spark, SF))
    # 4 dim joins, all broadcast-family. (The constant-source dim folds its
    # equi-key to a literal, so Catalyst may pick BroadcastNestedLoopJoin
    # over a 1-row build side — still a broadcast, still fine.)
    n_broadcast = plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    )
    assert n_broadcast >= 4, "star join must broadcast all four dimensions"
    assert "SortMergeJoin" not in plan, "dim join fell back to sort-merge"
    assert "ShuffledHashJoin" not in plan, "dim join shuffled the fact side"


def test_projection_operators_are_shuffle_free(spark):
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    for name in ("staging_cleanse", "text_metrics", "text_quality_score"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "Exchange" not in plan, (
            f"{name} is a stateless projection but its plan shuffles"
        )
    # dedup_minhash_signatures is still a stateless projection, but its
    # input passes through text._spread_cpu_dense (r8): on a small-file
    # scan ONE round-robin rebalance is allowed below the hashing
    # projection — and nothing else. No hash/range exchange may appear
    # (those would mean a data-proportional shuffle crept in).
    plan = _plan(QUERIES["dedup_minhash_signatures"](spark, SF))
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), exchanges
    assert len(exchanges) <= 1, f"more than the one spread rebalance: {exchanges}"


def test_round2_text_ops_are_shuffle_free(spark):
    """chunk_documents and redact_pii claim pure projection/explode —
    no Exchange may appear in their plans."""
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    for name in ("text_chunk_documents", "text_redact_pii"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "Exchange" not in plan, f"{name} plan shuffles"
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partitioned_fact_read_prunes_buckets(spark, tmp_path):
    """A bucket-filtered read of the partitioned fact table must prune at
    the scan (PartitionFilters), not post-filter — the property that
    makes the partitioned upsert's existing-side read incremental."""
    from _event_intelligence_data_warehouse_spark.plans import (
        facts as facts_mod,
        pipeline,
    )
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    whdir = str(tmp_path / "wh")
    args = pipeline.parse_args(
        ["--warehouse-dir", whdir, "--source", "csv", "--generate-sample",
         "--sample-rows", "60"]
    )
    pipeline.run_pipeline(spark, whdir, args)
    wh = Warehouse(spark, whdir)
    df = wh.read("fact_events").filter(
        F.col(facts_mod.FACT_PART_COL).isin([0, 1])
    )
    plan = _plan(df)
    assert "PartitionFilters" in plan and facts_mod.FACT_PART_COL in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], "bucket filter did not reach the partition scan"


def test_no_python_udfs_in_core_paths(spark):
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    for name in ("fact_build_star", "kpi_events_by_category", "text_metrics",
                  "dedup_minhash_lsh_pairs", "window_sessionize"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            f"{name} plan contains a Python UDF"
        )


def test_round3_curation_plans(spark):
    """Scale shapes of the r3 curation operators, asserted on executed
    plans: decontamination broadcasts the benchmark index (corpus side
    never sort-merges); mixture sampling is a broadcast-joined filter
    with no corpus shuffle; sequence packing costs exactly the per-shard
    window exchange and nothing else."""
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    plan = _plan(QUERIES["text_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan, "benchmark index not broadcast"
    assert "SortMergeJoin" not in plan, "corpus side fell to sort-merge"

    plan = _plan(QUERIES["curation_mixture_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # The only exchanges allowed feed the tiny plan aggregate + its
    # broadcast — never a corpus-sized hash partitioning of documents.
    assert "SortMergeJoin" not in plan

    plan = _plan(QUERIES["text_pack_sequences"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, (
        "packing should cost exactly the one per-shard window exchange"
    )
    assert "Window" in plan


def test_topk_compiles_to_take_ordered(spark):
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    plan = _plan(QUERIES["topk_recent_events"](spark, SF))
    assert "TakeOrderedAndProject" in plan, (
        "ORDER BY + LIMIT should compile to TakeOrderedAndProject, "
        "not a global sort"
    )


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """A selective dim-side filter on a big-big join must inject a
    runtime bloom filter (might_contain) on the fact side — Catalyst's
    runtime row-level filtering, the 100 TB lever that prunes fact rows
    before the shuffle. Size thresholds are scaled down to test data;
    at production scan sizes the defaults (10 GB application side)
    trigger on their own."""
    from _event_intelligence_data_warehouse_spark.contract import load

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB")
        l = load(spark, SF, "lineitem")
        o = load(spark, SF, "orders")
        j = (
            l.join(
                o.filter(F.col("o_orderpriority") == "1-URGENT"),
                l.l_orderkey == o.o_orderkey,
            )
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        j.collect()
        plan = _plan(j)
        assert "might_contain" in plan.lower(), (
            "runtime bloom filter was not injected on the fact side"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_tables_join_without_shuffle(spark):
    """Bucketing both sides of a big-big equi-join on the join key makes
    the join shuffle-free (SCALE.md: pre-partitioning/co-location is the
    lever when neither side broadcasts). Asserted on the executed plan:
    no Exchange feeds the SortMergeJoin."""
    from _event_intelligence_data_warehouse_spark.contract import load

    orders = load(spark, SF, "orders")
    lineitem = load(spark, SF, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").format("parquet").saveAsTable("b_orders"))
    (lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").format("parquet").saveAsTable("b_lineitem"))
    # Disable broadcast for the test: at sf0.01 AQE would broadcast the
    # small side; the point here is the big-big co-located join shape.
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        joined = (
            spark.table("b_lineitem")
            .join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        joined.collect()
        # Keep only the AQE final plan — the "Initial Plan" section repeats
        # the tree and would false-positive the Exchange scan below.
        plan = _plan(joined).split("== Initial Plan ==")[0]
        assert "SelectedBucketsCount" in plan, "scan ignored bucketing"
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # No shuffle may occur below the join: the only allowed Exchange
        # is the one for the groupBy ABOVE it.
        below_join = plan[plan.index("Join"):]
        assert "Exchange hashpartitioning" not in below_join, (
            "bucketed join still shuffled its inputs"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_round4_curation_plans(spark):
    """Round-4 operators keep their scale promises at the plan level:
    no Python eval anywhere, the Bloom probe's filter side broadcasts,
    boilerplate/BPE/spans stay free of corpus-sized collects."""
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    for name in (
        "dedup_exact_substrings",
        "text_boilerplate_lines",
        "text_bpe_pair_stats",
        "sketch_bloom_membership",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time UDF"
        assert "ArrowEvalPython" not in plan, f"{name}: unexpected Python"
        assert "CartesianProduct" not in plan, f"{name}: cross product"

    bloom_plan = _plan(QUERIES["sketch_bloom_membership"](spark, SF))
    assert "BroadcastHashJoin" in bloom_plan, (
        "bloom words frame should broadcast to the probe join"
    )


def test_bpe_pair_stats_compiles_to_take_ordered(spark):
    """Top-N with a deterministic tie-break must be TakeOrderedAndProject
    (K rows per partition -> K at the driver), not a global sort."""
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    plan = _plan(QUERIES["text_bpe_pair_stats"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_late_round4_operator_plans(spark):
    """Scale claims of the late-round-4 operators, plan-asserted:
    PQ encode and JL projection are shuffle-free projections; the DSIR
    score table and the PQ serve LUT broadcast onto the corpus stream;
    the skew profile compiles to a TakeOrdered top-N."""
    from _event_intelligence_data_warehouse_spark.contract import load
    from _event_intelligence_data_warehouse_spark.operators import (
        similarity as sim,
    )
    from _event_intelligence_data_warehouse_spark.operators import skew as sk
    from _event_intelligence_data_warehouse_spark.operators import text as tx

    emb = load(spark, SF, "embeddings")
    docs = load(spark, SF, "documents")

    # PQ encode (r6 form): broadcast the (m x k) codebook frame onto the
    # exploded subvectors and argmin via a map-side-combined
    # min(struct(d2, code)) — the ONE exchange is the OUTPUT-sized
    # aggregate (corpus x m code rows), never the codebook or a sort.
    cb = sim.pq_codebooks(emb, m=8, k=16, max_train=256, iters=1)
    enc_plan = _plan(sim.pq_encode(emb, cb))
    assert enc_plan.count("Exchange hashpartitioning") <= 1, (
        "PQ encode must cost exactly the output-sized argmin shuffle"
    )
    assert "BroadcastHashJoin" in enc_plan, "codebook join must broadcast"
    assert "SortMergeJoin" not in enc_plan
    assert "BatchEvalPython" not in enc_plan

    # JL random projection: per-row algebra, no exchange, no UDF
    rp_plan = _plan(sim.random_projection(emb, k=4))
    assert "Exchange" not in rp_plan
    assert "BatchEvalPython" not in rp_plan

    # DSIR: the bucket score table broadcasts onto the token stream
    dsir_plan = _plan(
        tx.dsir_affinity(docs, docs.filter(F.col("lang") == "en"))
    )
    assert "BroadcastHashJoin" in dsir_plan
    assert "BatchEvalPython" not in dsir_plan

    # skew profile: top-N never materializes the full histogram sort
    skew_plan = _plan(sk.key_skew_profile(
        load(spark, SF, "events"), ["user_id"], top_n=10
    ))
    assert "TakeOrderedAndProject" in skew_plan


def test_incremental_dedup_prunes_index_read_with_semi_join(spark):
    """The steady-state PRUNED contract fixture narrows the stored
    token-set read to collision ids via a LeftSemi join before the
    verify join, so untouched corpus docs' hash arrays never enter the
    shuffle. The headline dedup_minhash_incremental entry auto-selects
    the UNpruned plan for its ~25%-batch live-lineage fixture (r5
    verdict item 3), so the semi-join is asserted where it belongs."""
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    plan = _plan(QUERIES["dedup_minhash_incremental_pruned"](spark, SF))
    assert "LeftSemi" in plan
    assert "LeftSemi" not in _plan(
        QUERIES["dedup_minhash_incremental"](spark, SF)
    ), "the live-lineage fixture must auto-select the unpruned plan"


def test_round5_operator_plans(spark):
    """Scale claims of the round-5 operators, plan-asserted: the Gopher
    battery is one shuffle-free scan projection; temperature mixture is
    one aggregate into a sources-sized frame; prototype pruning never
    does pairwise work (no corpus self-join); the capped LSH candidate
    join keeps its bucket exchange count."""
    from _event_intelligence_data_warehouse_spark.contract import QUERIES, load
    from _event_intelligence_data_warehouse_spark.operators import (
        similarity as sim,
    )
    from _event_intelligence_data_warehouse_spark.operators import text as tx

    docs = load(spark, SF, "documents")
    emb = load(spark, SF, "embeddings")

    g_plan = _plan(tx.gopher_quality_filters(docs))
    assert "Exchange" not in g_plan, "gopher rules gained a shuffle"
    assert "BatchEvalPython" not in g_plan

    t_plan = _plan(QUERIES["curation_mixture_temperature"](spark, SF))
    assert "BatchEvalPython" not in t_plan

    # prototype pruning: NO pairwise corpus work — the corpus meets
    # only the broadcast fixed-K centroid frame (BroadcastNestedLoop /
    # cross with IdentityBroadcast), never itself. The tiny per-cell
    # SMJs inside k-means training join <= n_cells-row frames and AQE
    # shrinks them at runtime; a CartesianProduct (non-broadcast cross)
    # is the failure mode asserted against.
    p_plan = _plan(sim.prototype_prune(emb, n_cells=4, max_train=64))
    assert "CartesianProduct" not in p_plan
    assert "BatchEvalPython" not in p_plan
    assert "Window" in p_plan  # the per-cell rank cutoff


def test_curation_v4_gate_is_a_pushed_filter_not_a_join(spark):
    """v4's Gopher gate is an inline predicate: the plan must contain
    NO self-join of the corpus (the metrics-frame-then-join shape) and
    only the broadcast of the sources-sized plan frame."""
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    plan = _plan(QUERIES["curation_pipeline_v4"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") <= 2  # corpus read for gate+plan, not N times


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, tmp_path):
    """Hive-partitioned fact + selective dim filter: the fact scan must
    carry a dynamicpruning subquery so only the matching partitions are
    read at runtime — the mechanism that turns a dim predicate into a
    fact-side partition skip at 100 TB."""
    fact_dir = str(tmp_path / "fact_part")
    from _event_intelligence_data_warehouse_spark.contract import load

    load(spark, SF, "events").write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # DPP requires a SELECTIVE predicate on the build side — a bare
    # 1-row LocalRelation does not qualify (probed: no dynamicpruning
    # without the .where), so the dim carries an explicit filter.
    dim = spark.createDataFrame(
        [
            ("purchase", "revenue"), ("view", "engagement"),
            ("click", "engagement"), ("signup", "growth"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    ).where(F.col("category") == "revenue")
    joined = fact.join(dim, "event_type").groupBy("category").count()
    physical = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in physical.lower(), (
        "dynamic partition pruning did not fire on the fact scan"
    )
    rows = joined.collect()
    assert rows and rows[0]["count"] > 0


def test_covariance_pairs_single_aggregate_shuffle(spark):
    """The covariance claim in similarity.py: per-row dim products are
    generated inside the array, so the plan holds exactly one
    partial/final aggregate pair for the (dim_i, dim_j) groups plus the
    tiny per-dim sums — no self-join anywhere."""
    from _event_intelligence_data_warehouse_spark.contract import load
    from _event_intelligence_data_warehouse_spark.operators import (
        similarity as sim,
    )

    emb = load(spark, SF, "embeddings")
    plan = _plan(sim.covariance_pairs(emb, scale=1_000))
    assert "SortMergeJoin" not in plan, (
        "covariance must not self-join the flattened components"
    )
    assert "CartesianProduct" not in plan
    # dims frame is tiny: both attach joins must broadcast
    assert plan.count("BroadcastHashJoin") == 2


def test_pca_projection_is_shuffle_free(spark):
    """Literal-compiled projection: no exchange, no join — the model
    constants fold into one whole-stage-codegen projection."""
    from _event_intelligence_data_warehouse_spark.contract import load
    from _event_intelligence_data_warehouse_spark.operators import (
        similarity as sim,
    )

    emb = load(spark, SF, "embeddings")
    comps = sim.pca_model(emb, k=2)
    plan = _plan(sim.pca_project(emb, comps))
    assert "Exchange" not in plan and "Join" not in plan
    # Higher-order array functions run JVM-side but OUTSIDE whole-stage
    # codegen; the property that matters is a single Project over the
    # scan with the model folded in as literals.
    assert "Project" in plan and "BatchEvalPython" not in plan


def test_phrase_search_filters_postings_before_joins(spark):
    """The adjacency joins must consume postings already filtered to
    the query's terms — the optimized plan shows the term predicate
    below every join, so on a stored term-bucketed index the scan reads
    only those buckets."""
    from _event_intelligence_data_warehouse_spark.contract import load
    from _event_intelligence_data_warehouse_spark.operators import (
        text as tx,
    )

    docs = load(spark, SF, "documents")
    out = tx.phrase_search(docs, ["scan slow fast"])
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    first_join = opt.find("Join")
    assert first_join != -1
    below = opt[first_join:]
    assert below.count("scan") >= 1 and "slow" in below and "fast" in below, (
        "term filters must sit below the adjacency joins"
    )


def test_global_window_sanctions_are_exhaustive(spark):
    """Every committed PLAN_AUDIT row with a nonzero glob-win count
    must carry a sanction note, every GLOBAL_WINDOW_OK name must be a
    registered query, and the one row-scale offender the r9 audit
    found (per-user Gini ranks) must stay retired: its plan's only
    unpartitioned windows run over the distinct-activity-count bucket
    frame."""
    import os
    import re
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import GLOBAL_WINDOW_OK, count_global_windows

    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    for name in GLOBAL_WINDOW_OK:
        assert name in QUERIES, f"sanction for unregistered query {name}"

    audit = os.path.join(os.path.dirname(__file__), "..", "PLAN_AUDIT.md")
    with open(audit) as f:
        for line in f:
            m = re.match(
                r"\| (\w+) \| \d+ \| \d+ \| \d+ \| (\d+) \| (\d+) \|(.*)\|",
                line,
            )
            if not m:
                continue
            name, py_eval, glob_win, notes = m.groups()
            if int(glob_win) > 0:
                assert "sanctioned" in notes or name in GLOBAL_WINDOW_OK, (
                    f"{name}: {glob_win} global window(s) without sanction"
                )

    # The reworked Gini: global windows remain only on the bucket frame
    # (distinct activity counts — 38 buckets at sf0.01, vs 1000 users).
    df = QUERIES["analytics_user_concentration"](
        spark, "/root/testdata/sf0.01"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_gw = count_global_windows(plan)
    assert n_gw <= 2  # the asc+desc bucket prefixes, nothing per-user


def _fact_write_plan(spark, wh, monkeypatch) -> list[tuple[str, str]]:
    """Run the pipeline's load on ``wh`` and return the executed plan of
    its fact write as (operator name, node text) lines. The written
    frame is executed once more after the write, through its own query
    execution, so the plan is adaptive execution's final one, where
    reused exchanges show."""
    import re

    from _event_intelligence_data_warehouse_spark.plans import pipeline
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    written = []
    real = Warehouse.overwrite_partitions

    def capture(self, table, df, *args, **kwargs):
        written.append(df)
        return real(self, table, df, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "overwrite_partitions", capture)
    pipeline.step_transform_and_load(wh, spark)
    monkeypatch.setattr(Warehouse, "overwrite_partitions", real)
    [df] = written
    df.collect()
    final = _plan(df).split("== Final Plan ==")[1]
    final = final.split("== Initial Plan ==")[0]
    lines = []
    for line in final.splitlines():
        text = re.sub(r"^\*\(\d+\) ", "", line.lstrip(" :+-"))
        lines.append((text.split(" ", 1)[0], text))
    return lines


def test_fact_write_shares_one_dimension_broadcast(spark, tmp_path,
                                                   monkeypatch):
    """The pipeline's fact write joins the batch to the four dimensions
    through one broadcast that the other three joins reuse, and a
    key-unique batch is not deduplicated: no window on (source,
    raw_event_id). A batch holding a key twice keeps that window. The
    broadcast is shared only while the four build sides canonicalize
    equal; renaming the lookup's columns to a dimension's own column
    names breaks that, and each join broadcasts again."""
    import re
    from datetime import datetime

    from _event_intelligence_data_warehouse_spark import schemas
    from _event_intelligence_data_warehouse_spark.plans import pipeline
    from _event_intelligence_data_warehouse_spark.sources import bronze
    from _event_intelligence_data_warehouse_spark.sources.synthetic import (
        generate_sample_events,
    )
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    events = generate_sample_events(spark, 80)
    bronze.land_batch(wh, events.filter(F.col("event_id") < "MOCK_00060"),
                      source="csv")
    pipeline.step_transform_and_load(wh, spark)
    bronze.land_batch(wh, events.filter(F.col("event_id") >= "MOCK_00060"),
                      source="csv")
    plan = _fact_write_plan(spark, wh, monkeypatch)
    ops = [op for op, _ in plan]
    assert ops.count("BroadcastExchange") == 1, plan
    assert sum(op == "ReusedExchange" and "BroadcastExchange" in text
               for op, text in plan) == 3, plan
    assert ops.count("BroadcastHashJoin") == 4, plan
    dedup = re.compile(r"\[source#\d+, raw_event_id#\d+\]")
    assert not [t for op, t in plan if op == "Window" and dedup.search(t)]

    twice = wh.read(bronze.RAW_TABLE).filter(
        F.col("raw_event_id") == "MOCK_00007"
    ).select([f.name for f in schemas.RAW_EVENTS.fields])
    for day in (1, 2):
        wh.append(bronze.RAW_TABLE, twice.withColumn(
            "ingested_at", F.lit(datetime(2030, 1, day))))
    plan = _fact_write_plan(spark, wh, monkeypatch)
    assert [t for op, t in plan if op == "Window" and dedup.search(t)], plan
