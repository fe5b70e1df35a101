"""Round-12 operator tests: incremental release-gate ledger identities,
stored-rate application, dataset-card artifact shape."""

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_incremental_gate_ledger_conservation(spark):
    """The disposition ledger is a PARTITION of the landing batch:
    every batch doc appears exactly once, each disposition is one of
    the five states, precedence invariants hold (every bench-id batch
    doc is 'bench_member'; released docs are canonical gate
    survivors), and the released set is exactly the stored-rate
    application over the canonical survivors — the conservation
    identity that makes the daily ledger auditable."""
    import hashlib

    from _event_intelligence_data_warehouse_spark.contract import QUERIES
    from _event_intelligence_data_warehouse_spark.contract.enrichment_queries import (  # noqa: E501
        _RGI_BATCH_PCT,
        _RGI_BENCH_MOD,
        _RGI_DUP_OFFSET,
    )

    out = QUERIES["curation_release_gate_incremental"](
        spark, SF_DIR
    ).collect()
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}

    def in_batch(i: int) -> bool:
        h = int(hashlib.md5(f"rgi|{i}".encode()).hexdigest()[:8], 16)
        return h % 100 < _RGI_BATCH_PCT

    slice_ids = {i for i in all_ids if in_batch(i)}
    batch_ids = (
        slice_ids
        | {
            i + _RGI_DUP_OFFSET
            for i in all_ids
            if not in_batch(i) and i % 7 == 0
        }
        | {
            i + 2 * _RGI_DUP_OFFSET
            for i in slice_ids
            if i % 7 == 3
        }
    )
    assert {r.doc_id for r in out} == batch_ids
    assert len(out) == len(batch_ids)  # exactly once
    states = {
        "bench_member", "contaminated", "dup_vs_released",
        "dup_in_batch", "released", "sampled_out",
    }
    # every disposition must actually occur at this fixture — the
    # ledger exercises all five gate stages plus release
    assert {r.disposition for r in out} == states
    for r in out:
        if r.doc_id % _RGI_BENCH_MOD == 0 and r.doc_id < _RGI_DUP_OFFSET:
            assert r.disposition == "bench_member", r
        if r.doc_id >= _RGI_DUP_OFFSET:
            # planted rows are never suite members by id
            assert r.disposition != "bench_member", r


def test_apply_mixture_rates_stored_state_semantics(spark):
    """apply_mixture_rates is the application half of the mixture
    samplers: (a) delegating samplers are unchanged (temperature
    sample == plan + apply), (b) a source absent from the stored rate
    table is dropped (rate 0 — a NEW source needs a rate decision
    before anything releases), (c) membership is stable: applying the
    same stored rates to a SUBSET of the corpus keeps exactly the
    subset's members (no re-normalization sneaks in)."""
    from _event_intelligence_data_warehouse_spark.operators import (
        sampling as smp,
    )

    rows = [
        (i, "src_a" if i % 3 else "src_b", "word " * (i % 7 + 1))
        for i in range(1, 61)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    plan = smp.mixture_plan_temperature(df, 50, alpha=0.5)
    via_sampler = {
        r.doc_id
        for r in smp.mixture_sample_temperature(df, 50, alpha=0.5)
        .collect()
    }
    via_apply = {
        r.doc_id for r in smp.apply_mixture_rates(df, plan).collect()
    }
    assert via_sampler == via_apply
    # (b) unknown source drops
    extra = spark.createDataFrame(
        [(1000, "src_new", "hello world")],
        "doc_id long, source string, text string",
    )
    assert (
        smp.apply_mixture_rates(extra, plan).count() == 0
    )
    # (c) subset stability
    sub = df.filter(F.col("doc_id") % 2 == 0)
    via_sub = {
        r.doc_id for r in smp.apply_mixture_rates(sub, plan).collect()
    }
    assert via_sub == {i for i in via_apply if i % 2 == 0}


def test_dataset_card_artifact_sections(spark):
    """The committed dataset card covers all four governance sections
    with the right per-section metric sets, every value is a bigint
    long, and the rows really come from the manifest-committed
    artifact (the staging warehouse holds a readable committed table
    whose content equals the returned frame)."""
    import tempfile

    from _event_intelligence_data_warehouse_spark.contract import QUERIES
    from _event_intelligence_data_warehouse_spark.contract.enrichment_queries import (  # noqa: E501
        _CARD_SECTIONS,
    )
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    out = QUERIES["governance_dataset_card"](spark, SF_DIR)
    rows = out.collect()
    by_section = {}
    for r in rows:
        by_section.setdefault(r.section, set()).add(r.metric)
    assert set(by_section) == {s[0] for s in _CARD_SECTIONS}
    for section, _q, _k1, _k2, metrics in _CARD_SECTIONS:
        assert by_section[section] == set(metrics), section
    assert dict(out.dtypes)["value"] == "bigint"
    # artifact read-back: the committed table equals the result.
    # Reconstruct the staging path WITHOUT re-calling staging_dir —
    # that helper wipes its dir on entry, which would destroy exactly
    # the committed artifact being checked.
    base = os.path.join(
        tempfile.gettempdir(),
        f"eidw_staging_{os.getpid()}",
        f"governance_dataset_card_{os.path.basename(SF_DIR.rstrip('/'))}",
    )
    wh = Warehouse(spark, base)
    stored = wh.read("dataset_card").collect()
    key = lambda r: (r.section, r.k1, r.k2, r.metric, r.value)  # noqa: E731
    assert sorted(map(key, stored)) == sorted(map(key, rows))


def test_leakage_pass2_gram_reuse_equals_retokenize(spark):
    """r12 optimization pin: text_leakage_attribution's pass 2 reads
    the persisted pass-1 gram frame restricted to suspect ids instead
    of re-running token_ngram_hashes over the suspect docs. The two
    formulations must produce the identical (doc_id, gram_hash) set —
    token_ngram_hashes emits per-doc DISTINCT grams from row-local
    state only, so a semi-join before or after tokenization commutes.
    Guards the rewrite against a future fold mode with cross-document
    state, which would silently break the commutation."""
    from _event_intelligence_data_warehouse_spark.contract.extension_queries import (
        _BPE_MERGES, _TOKDECON_N,
    )
    from _event_intelligence_data_warehouse_spark.operators import text as tx

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    sus = docs.filter(F.col("doc_id") % 5 == 2).select("doc_id")
    cg = tx.token_ngram_hashes(
        docs, _BPE_MERGES, n=_TOKDECON_N, fold="vocab_join"
    )
    reused = cg.join(F.broadcast(sus), "doc_id")
    retok = tx.token_ngram_hashes(
        docs.join(F.broadcast(sus), "doc_id"),
        _BPE_MERGES, n=_TOKDECON_N, fold="vocab_join",
    )
    a = {(r["doc_id"], r["gram_hash"]) for r in reused.collect()}
    b = {(r["doc_id"], r["gram_hash"]) for r in retok.collect()}
    assert a == b and a, "pass-2 gram reuse diverged from re-tokenization"
