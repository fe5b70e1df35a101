"""Structured Streaming wirings (SURVEY.md §7 stretch goal, now core).

The jobs that read an external input directory are file streams under
``Trigger.AvailableNow``: incremental batch jobs with a checkpoint — the
Spark-native replacement for the reference's ``is_processed`` polling
loop (scheduler.py:54-57). Each invocation processes exactly the files
that arrived since the last checkpoint, then exits. The bronze -> gold
fact merge reads a warehouse table instead, so it drains the bronze
commits made since its watermark through the pipeline's own incremental
load, never the table's directory.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a directory of event parquet files."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )


def windowed_counts_stream(events: DataFrame, *, duration: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts with a watermark bounding state: late rows
    beyond the watermark are dropped, state for closed windows is freed —
    the knob that keeps unbounded streams at bounded memory."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_available_now(
    events_stream: DataFrame,
    transformed: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain everything currently available through the query and stop.
    Append mode: only watermark-closed windows emit, exactly once."""
    q = (
        transformed.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def purchase_attribution_stream(
    events: DataFrame, *, horizon: str = "1 hour", watermark: str = "30 days"
) -> DataFrame:
    """Stream-stream interval join: each purchase attributed to the same
    user's views in the preceding ``horizon``. Both sides carry
    watermarks plus the time-range join condition, which is what lets the
    engine BOUND the join state (view state older than horizon + slack is
    evicted) — the property a naive unbounded stream join lacks. The
    generous default watermark makes the drained AvailableNow result
    equal to the batch interval join (nothing evicted early), which is
    exactly what the oracle checks."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") < F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(
            f"INTERVAL {horizon}"
        ))
    )
    return views.join(purchases, cond, "inner").select(
        F.col("p_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
    )


def dedup_event_stream(
    events: DataFrame,
    *,
    keys: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of ``keys`` arriving within the
    watermark horizon (``dropDuplicatesWithinWatermark``). The first
    arrival of each key emits; later copies inside the horizon are
    dropped, and per-key state is evicted once the watermark passes —
    the property that keeps state bounded on an unbounded stream, unlike
    plain dropDuplicates whose state grows forever.

    This is the streaming face of operators.dedup.exact_dedup: a landing
    pipeline runs it in-flight so bronze never stores the duplicates it
    would otherwise anti-join away per batch."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys or ["event_id"])
    )


# Holds the bronze version the last stream fact merge read through.
STREAM_WATERMARK = "stream_fact_merge.bronze_version"


def stream_facts_from_bronze(spark: SparkSession, wh) -> None:
    """Continuous bronze -> gold, cron-able: MERGE the bronze rows
    committed since the last drain into the partitioned fact table
    (cleanse -> star join against the CURRENT dimensions -> partition-
    pruned upsert) and log one ``stream_fact_merge`` run row.

    It is the pipeline's incremental load (``pipeline.drain_bronze``)
    under its own watermark, so it merges only published rows that no
    deletion vector hides, and a crash before the watermark advances
    replays into the idempotent MERGE on event_nk. Dimensions are read
    fresh per drain — maintained by the (slower-cadence) batch pipeline,
    the standard split between dim maintenance and fact streaming. A
    first drain starts at the bronze version the pipeline's load read
    through, when that watermark is a version: the rows before it are
    already facts. Limit: a bronze commit that replaced files makes the
    drain raise ValueError; nothing in this package compacts
    ``raw_events``."""
    import uuid

    from _event_intelligence_data_warehouse_spark.functions.keys import event_nk
    from _event_intelligence_data_warehouse_spark.plans import facts as facts_mod
    from _event_intelligence_data_warehouse_spark.plans import pipeline
    from _event_intelligence_data_warehouse_spark.sources import bronze

    def merge(stg: DataFrame) -> int:
        nk = event_nk("source", "raw_event_id")
        n, buckets, keys = stg.agg(
            F.count("*"), F.collect_set(facts_mod.fact_bucket(nk)),
            F.collect_set(nk),
        ).first()
        dims = {t: wh.read(t, pipeline.GOLD[t]) for t in pipeline.DIM_UPDATES}
        pipeline.write_facts(wh, stg, dims, staged=n, buckets=buckets,
                             keys=keys)
        return n

    def now() -> dt.datetime:
        return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    if wh.get_watermark(STREAM_WATERMARK) is None:
        loaded = wh.get_watermark(pipeline.WATERMARK)
        if isinstance(loaded, int):
            wh.set_watermark(STREAM_WATERMARK, loaded)
    started = now()
    run_id = f"stream-fact-merge-{uuid.uuid4()}"
    try:
        n = pipeline.drain_bronze(wh, STREAM_WATERMARK, merge)
    except Exception as exc:
        bronze._log(wh, spark, run_id, "stream_fact_merge", started, now(),
                    0, 0, "failed", str(exc)[:500])
        raise
    if n is not None:
        # S9 parity: kpi_pipeline_health sees streaming runs too
        bronze._log(wh, spark, run_id, "stream_fact_merge", started, now(),
                    n, n, "success", None)


# Applied-source-file ledger for the streaming rollup cascade: exactly-
# once per input file, independent of checkpoint identity (see refresh()).
ROLLUP_LEDGER = "rollups_ingest_ledger"
# Compact + prune the ledger when its file count exceeds this: every
# micro-batch appends one small file AND anti-joins the whole ledger, so
# unbounded growth would make per-batch overhead scale with total files
# ever ingested instead of the retention window.
LEDGER_COMPACT_FILES = 32
# Entries older than this can never match a re-offered file: Spark's
# file source only re-offers files younger than maxFileAge (7 days by
# default), so pruning at 8 days keeps exactly-once intact while
# bounding the anti-join side to the recent-arrival window.
LEDGER_RETENTION_DAYS = 8.0


def stream_rollups_from_events(
    spark: SparkSession, wh, input_dir: str, checkpoint_dir: str,
    *, ledger_retention_days: float = LEDGER_RETENTION_DAYS,
) -> None:
    """Continuously maintained rollup cascade: each micro-batch of raw
    events merges additively into the hourly/daily/monthly aggregates
    (plans.rollups.refresh_incremental) — the streaming face of
    continuous aggregates. Late events simply land in their (old) hour
    partition: the additive merge has no watermark cutoff, so the
    cascade converges to the batch-rebuild answer regardless of arrival
    order (test-pinned)."""
    from _event_intelligence_data_warehouse_spark.plans import rollups

    stream = read_event_stream(spark, input_dir)
    ledger_schema = T.StructType([
        T.StructField("src_file", T.StringType()),
        T.StructField("applied_at", T.TimestampType()),
    ])

    def read_ledger() -> DataFrame:
        led = wh.read(ROLLUP_LEDGER, ledger_schema)
        if "applied_at" not in led.columns:
            # one-time v1 -> v2 migration: unknown-age entries start
            # their retention clock now — strictly conservative (they
            # survive a full extra window before pruning).
            led = led.withColumn("applied_at", F.current_timestamp())
            wh.overwrite(ROLLUP_LEDGER, led)
            led = wh.read(ROLLUP_LEDGER, ledger_schema)
        return led

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # foreachBatch is AT-LEAST-once: a crash after the sink commit
        # but before the checkpoint commit replays the batch, and an
        # additive merge would double-count it. The replay ledger is
        # FILE-scoped, not batch-id-scoped: micro-batch ids are only
        # monotonic per checkpoint, so a warehouse-global max-batch-id
        # would silently SKIP genuinely new files after a checkpoint
        # loss/recreate (ids restart at 0 — data loss, round-2 ADVICE)
        # while also depending on id coincidence to suppress re-drains.
        # Tracking applied source files gives exactly-once per file
        # regardless of checkpoint identity: replays and re-drains hit
        # the ledger, new files always apply. A crash BETWEEN the
        # cascade write and the ledger append still double-applies those
        # files — the unavoidable window of a non-transactional sink; a
        # table format with commit metadata closes it.
        ledger = read_ledger()
        tagged = batch_df.withColumn("_src", F.input_file_name())
        unapplied = tagged.join(
            ledger, tagged["_src"] == ledger["src_file"], "left_anti"
        )
        # O(batch file count) driver list — the per-micro-batch file set,
        # not the corpus. (batch_df.inputFiles() is empty inside
        # foreachBatch; input_file_name() is the reliable source.)
        new_files = [
            r.src_file
            for r in unapplied.select(
                F.col("_src").alias("src_file")
            ).distinct().collect()
        ]
        if not new_files:
            return
        fresh = unapplied.drop("_src")
        if not wh.exists(rollups.HOURLY):
            rollups.build_cascade(wh, fresh)
        else:
            rollups.refresh_incremental(wh, fresh)
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        wh.append(
            ROLLUP_LEDGER,
            spark.createDataFrame(
                [(f, now) for f in new_files], ledger_schema
            ),
        )
        # Bound steady-state cost: each micro-batch appends one ledger
        # file, so periodically fold the ledger into one file and drop
        # entries past the retention horizon (the file source never
        # re-offers files that old — see LEDGER_RETENTION_DAYS).
        n_files, _ = wh.file_stats(ROLLUP_LEDGER)
        if n_files > LEDGER_COMPACT_FILES:
            cutoff = now - dt.timedelta(days=ledger_retention_days)
            kept = read_ledger().filter(
                F.col("applied_at") >= F.lit(cutoff)
            )
            wh.overwrite(ROLLUP_LEDGER, kept.coalesce(1))

    q = (
        stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# -- streaming document curation -------------------------------------------

CURATED_DOCS = "curated_documents"

DOCS_STREAM_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
])


def stream_curate_documents(
    spark: SparkSession, wh, input_dir: str, checkpoint_dir: str,
    *, min_quality: float = 0.3,
) -> None:
    """Steady-state streaming curation: documents land as files, each
    micro-batch scores quality, drops rejects, exact-dedups in-batch
    (min doc_id per fingerprint), anti-joins the persisted fingerprint
    ledger so cross-batch duplicates never re-enter, and appends the
    survivors + their fingerprints — the streaming face of the batch
    curation pipeline, with per-batch cost proportional to the batch.

    Exactly-once shape: the checkpoint makes each landed file process
    once; a crash-replay of a batch whose append already committed is
    absorbed by the fingerprint anti-join, so curated content never
    duplicates. The ledger IS the curated table's own fingerprint
    column — one table, one append, no two-table commit window where a
    crash between writes could desynchronize ledger and corpus. The
    ledger read is a single pruned 32-byte-digest column scan of the
    curated corpus; at 100 TB, bucket the table by fingerprint prefix
    and probe only the batch's buckets (same steady-state story as
    operators.dedup.incremental_minhash_dedup)."""
    from _event_intelligence_data_warehouse_spark.operators import text as tx

    out_schema = T.StructType(
        list(DOCS_STREAM_SCHEMA.fields)
        + [
            T.StructField("fingerprint", T.StringType()),
            T.StructField("quality", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def curate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = batch_df.select(
            "*",
            tx.fingerprint(F.col("text")).alias("fingerprint"),
            tx.quality_score(F.col("text")).alias("quality"),
        ).filter(F.col("quality") >= min_quality)
        w = Window.partitionBy("fingerprint").orderBy(F.asc("doc_id"))
        in_batch = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        seen = wh.read(CURATED_DOCS, out_schema).select("fingerprint")
        fresh = in_batch.join(seen, "fingerprint", "left_anti")
        if not fresh.isEmpty():
            wh.append(
                CURATED_DOCS,
                fresh.select([f.name for f in out_schema.fields]),
            )

    q = (
        stream.writeStream.foreachBatch(curate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_merge_into(
    spark: SparkSession, wh, src_dir: str, table: str, keys: list[str],
    schema, checkpoint_dir: str, *, max_files_per_trigger: int = 16,
    newer_col: str | None = None,
) -> None:
    """Continuous key-MERGE of a file stream into a manifest table:
    each micro-batch upserts through ``Warehouse.merge_into`` — the
    storage layer's pruned, atomic, snapshot-isolated MERGE — after an
    in-batch latest-per-key dedupe (MERGE requires unique source keys;
    a micro-batch can legitimately carry several versions of one key).

    Exactly-once composition: the checkpoint deduplicates INPUT files,
    merge_into deduplicates KEYS, and the manifest pointer publish
    makes each batch atomic — so replays after a checkpoint loss
    converge to the same table instead of double-applying. Per-batch
    cost is the source-envelope-pruned candidate rewrite, steady-state
    proportional to the increment.

    ``newer_col`` makes convergence ORDER-independent: batch rows
    whose version is not >= the target's current version for that key
    are dropped before the merge, so an out-of-order replay (or a
    late-arriving old file) can never clobber newer state — the
    conditional-matched-update every CDC MERGE needs."""
    from pyspark.sql.window import Window

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # latest-per-key: order by the version column when declared
        # (exact CDC semantics), else by every non-key column (a stable
        # deterministic pick for orderable schemas)
        order_cols = (
            [newer_col] if newer_col is not None
            else [c for c in batch_df.columns if c not in keys]
        )
        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if newer_col is not None and wh.exists(table):
            tgt = wh.read(table).select(
                *keys, F.col(newer_col).alias("_tgt_v")
            )
            latest = (
                latest.join(tgt, keys, "left")
                .filter(
                    F.col("_tgt_v").isNull()
                    | (F.col(newer_col) >= F.col("_tgt_v"))
                )
                .drop("_tgt_v")
            )
        if latest.isEmpty():
            return
        with wh.commit_metadata(stream_batch=batch_id):
            wh.merge_into(table, latest, keys)

    (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


ERASURE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("requested_at", T.StringType()),
    ]
)


def stream_gdpr_erasure(
    spark: SparkSession, wh, input_dir: str, checkpoint_dir: str,
    *, target_table: str, key_col: str = "user_id",
    audit_table: str = "erasure_audit",
) -> None:
    """Right-to-erasure as a streaming job: deletion requests land as
    files; each micro-batch folds its requested keys into ONE
    deletion-vector DELETE against the target table (write cost ~
    deleted rows, not table size — the point-delete shape DVs exist
    for) and appends an audit record (key, rows_deleted, table version)
    so compliance can prove the erasure and time travel can bound when
    it landed.

    Idempotence: the audit is keyed by (app, batch_id) — ``app`` is
    derived from the checkpoint dir, the same stream identity that
    scopes Spark's batch numbering (Delta's foreachBatch ``txnAppId``
    pattern), so a replayed batch whose audit row already landed is a
    no-op while a FRESH-checkpoint rerun (new identity, batch ids
    restart) is not mistaken for a replay. The delete commit is
    stamped with the same key via ``commit_metadata`` — so a crash in
    the window AFTER the DV delete published but BEFORE the audit
    append is reconstructed on replay from the table history: the
    stamped commit gives the version, and the ``rows_deleted`` count
    the vector delete records in that commit's ``meta`` gives the
    count. Re-running the delete instead would match nothing and
    permanently under-record the erasure as rows_deleted=0/
    version=None. At-least-once file delivery therefore never
    double-counts OR loses an erasure's accounting while vacuum
    retention keeps the stamped commit in history.
    One delete per batch (not per key): the manifest grows by one
    commit per micro-batch however many users it covers.

    At 100 TB: pair with retention so vectors eventually materialize —
    compaction/cluster_by clears them; until then reads pay one
    anti-join against vectors sized by erased rows."""
    import hashlib
    import os as _os

    app = hashlib.md5(
        _os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:16]
    req = spark.readStream.schema(ERASURE_SCHEMA).json(input_dir)

    def erase_batch(batch_df: DataFrame, batch_id: int) -> None:
        # request stream always carries user_id; key_col names the
        # TARGET table's column those ids live in. NULL ids (malformed
        # request rows under the permissive JSON schema) are dropped,
        # not crashed on: a poison batch would otherwise replay from
        # the checkpoint forever.
        keys = [
            r[0]
            for r in batch_df.select("user_id")
            .where(F.col("user_id").isNotNull())
            .distinct()
            .collect()
        ]
        if not keys:
            return

        def _audit(rows_deleted: int | None, version: int | None) -> None:
            wh.append(audit_table, spark.createDataFrame(
                [(app, batch_id, len(keys), rows_deleted, version)],
                "app string, batch_id long, n_keys long, "
                "rows_deleted long, table_version long",
            ))

        try:
            replayed = (
                wh.read(audit_table)
                .filter((F.col("app") == app)
                        & (F.col("batch_id") == batch_id))
                .count() > 0
            )
        except FileNotFoundError:
            replayed = False
        if replayed:
            return
        prior = next(
            (h for h in wh.history(target_table)
             if (h.get("meta") or {}).get("gdpr_app") == app
             and (h.get("meta") or {}).get("gdpr_batch") == batch_id),
            None,
        )
        if prior is not None:
            # crash landed between the delete publish and the audit
            # append: the delete's commit recorded its own count
            _audit(prior["meta"].get("rows_deleted"), prior["version"])
            return
        with wh.commit_metadata(gdpr_app=app, gdpr_batch=batch_id):
            res = wh.delete_where(
                target_table, [(key_col, "in", sorted(keys))], mode="dv"
            )
        _audit(res["rows_deleted"], res["version"])

    q = (
        req.writeStream.foreachBatch(erase_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def purchase_attribution_outer_stream(
    events: DataFrame, *, horizon: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase, attributed
    to preceding views within ``horizon`` — or emitted with NULL view
    columns once the watermark proves no view can still arrive. The
    outer side is the mechanism the inner join doesn't exercise:
    unmatched state is held until the watermark closes its join window,
    then released as a null row — the "purchases with no touchpoint"
    feed a marketing pipeline needs WITHOUT a second batch reconciliation
    pass.

    Unlike the inner variant (wide watermark, emission time irrelevant),
    null-row emission here is watermark-driven: rows whose window is
    still open when the drain stops are withheld (correct streaming
    semantics, not data loss — they emit on the next run). Callers
    comparing against a batch left join must restrict to purchases
    older than max_event_ts - watermark - horizon (the provably-closed
    region)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") < F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(
            f"INTERVAL {horizon}"
        ))
    )
    return purchases.join(views, cond, "left_outer").select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        "purchase_ts",
        "view_ts",
    )


def stream_static_enrich(
    events_stream: DataFrame,
    static_dim: DataFrame,
    *,
    keys: list[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static dimension enrichment: join each micro-batch of the
    stream against a batch DataFrame (the classic slowly-refreshed dim
    lookup). Stateless — no watermark, no state store: every streamed
    row emits exactly once in append mode, enriched with the dim row
    visible to that micro-batch's scan.

    Refresh semantics (document, don't guess): Spark re-SCANS the
    static side per micro-batch, but a file-source dim's file LISTING
    is resolved at query planning — a dim rewritten in place is picked
    up on query (re)start, which is the supported refresh point for
    this pattern (tests/test_stream_static.py exercises it).

    ``broadcast_dim`` (default True) hints the dim side so each
    micro-batch joins shuffle-free — right for lookup dims. Pass False
    for dims too large to broadcast (a billion-user profile table):
    the stream side then shuffles per batch, which is the honest cost
    of a huge dim, not an OOM.
    """
    dim = F.broadcast(static_dim) if broadcast_dim else static_dim
    return events_stream.join(dim, keys, how)


def stream_ivm_view(
    spark: SparkSession,
    delta_dir: str,
    view_dir: str,
    checkpoint_dir: str,
    *,
    initial_view: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    max_files_per_trigger: int = 1,
    delta_schema=None,
) -> str:
    """Continuously maintain an aggregate view over a signed CDC delta
    stream (operators/ivm.py algebra) and return the path of the final
    view version.

    Each micro-batch folds into the previous view VERSION and writes
    the next one (``view_dir/v{batch_id}``): batch ids are stable
    across foreachBatch replays, so a crash-and-retry overwrites the
    same version instead of double-applying — the idempotence leg of
    exactly-once. The fold itself is ABELIAN, which buys the property a
    streaming maintainer actually needs: micro-batch BOUNDARIES (file
    order, trigger sizing, restarts) cannot change the final state, so
    long as each retraction's insert is already absorbed — deltas for
    rows born inside the initial view satisfy that in any order, and
    upstream CDC feeds emit delete-after-insert per key by contract.

    100 TB: per batch this moves |touched groups| partials plus one
    view rewrite; the base table is never re-read (the point of IVM).
    The versioned full-view rewrite is the local-parquet stand-in for a
    MERGE into the manifest warehouse (storage.py) — swap the sink, the
    algebra is unchanged."""
    import os

    from _event_intelligence_data_warehouse_spark.operators import ivm

    v_init = os.path.join(view_dir, "v_init")
    initial_view.write.mode("overwrite").parquet(v_init)

    def _version(i: int) -> str:
        return v_init if i < 0 else os.path.join(view_dir, f"v{i}")

    # The previous view is addressed by BATCH ID, not driver state:
    # every micro-batch writes its version, batch ids are sequential
    # and stable across restarts, so after a crash batch n still folds
    # into v{n-1} — driver-side "latest" bookkeeping would reset to
    # v_init on recovery and silently drop the committed prefix.
    def fold(batch_df: DataFrame, batch_id: int) -> None:
        prev = spark.read.parquet(_version(batch_id - 1))
        new = ivm.agg_delta_apply(prev, batch_df, keys, sum_cols)
        new.write.mode("overwrite").parquet(_version(batch_id))

    # Delta batches may land as one subdirectory per CDC emission;
    # recursive lookup makes both the schema sample and the file-stream
    # source see them (the stream still triggers per FILE). Callers
    # that know the delta schema (streaming_ivm_cdc_view does) pass it
    # via ``delta_schema`` so an empty / not-yet-populated delta dir
    # starts an IDLE stream instead of failing at setup; the eager
    # sample read is only the fallback when the schema is omitted
    # (round-6 ADVICE). Note: the final-version scan below uses
    # os.listdir — this local-parquet sink stand-in assumes a local
    # filesystem view_dir, like the rest of the versioned-view layout.
    schema = delta_schema
    if schema is None:
        schema = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(delta_dir).schema
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(delta_dir)
    )
    (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    versions = [
        int(d[1:]) for d in os.listdir(view_dir)
        if d.startswith("v") and d[1:].isdigit()
    ]
    return _version(max(versions) if versions else -1)
