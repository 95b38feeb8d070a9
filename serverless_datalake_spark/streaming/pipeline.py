"""Streaming ingest pipeline (reference E1 as Structured Streaming).

Mapping (SURVEY.md §2a):
* R1/R5 REST ingest + S3→SQS notification → ``readStream`` file
  source: new files in the staging directory are discovered
  incrementally — no notification infrastructure needed;
* R2 Firehose 60 s / 10 MB buffer → ``trigger(processingTime)``
  micro-batches (60 s default; tests use availableNow);
* R3/R4 gzip + per-source prefix → partitioned Parquet sink;
* R9/R10/R11 catalog append + fan-out → ``foreachBatch``: one
  transaction-shaped function per micro-batch that (a) lands data
  partitioned by source, (b) appends catalog entries keyed by the
  batch id, (c) delivers per source;
* §1.4 at-least-once gap → ``withWatermark`` + ``dropDuplicates``
  makes delivery exactly-once downstream of the dedup state store;
  checkpointing makes the whole query restartable.

`foreachBatch` writes are idempotent per (batch_id): re-running a
failed batch overwrites the same file_key rather than duplicating it
— Structured Streaming's replayed-batch contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from serverless_datalake_spark.sources.ingest import build_catalog_entries, with_source
from serverless_datalake_spark.sources.lake import EVENTS_JSON_SCHEMA


def read_event_stream(
    spark: SparkSession,
    staging_path: str,
    source_col: str = "event_type",
    watermark: str = "10 minutes",
    dedup: bool = True,
) -> DataFrame:
    """R5/R6/R7 + dedup: incremental file discovery, schema-first JSON
    parse, event-time watermark, stateful exactly-once dedup on the
    event key. maxFilesPerTrigger bounds micro-batch size (the 10 MB
    half of the reference's buffering hint, stack.py:140)."""
    stream = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .json(staging_path)
    )
    stream = with_source(stream, source_col).withWatermark("ts", watermark)
    if dedup:
        # late-beyond-watermark re-deliveries age out of the state
        # store; within-watermark duplicates are dropped exactly-once
        stream = stream.dropDuplicatesWithinWatermark(["event_id"])
    return stream


def start_ingest_query(
    stream: DataFrame,
    lake_path: str,
    catalog_path: str,
    delivery_root: str | None,
    checkpoint_path: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """E1's recorder, as one checkpointed streaming query."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        # Idempotence contract: Structured Streaming may re-run a
        # batch after a failure. Every sink partitions by batch_id and
        # writes with DYNAMIC partition overwrite, so a replayed batch
        # REPLACES its own partitions instead of appending duplicates;
        # other batches' partitions are untouched. The overwrite mode
        # is a PER-WRITE option, not a session conf mutation — two
        # queries sharing one SparkSession raced on the set/restore
        # (and an interleaving could leave the session on 'static',
        # where a replayed batch's overwrite TRUNCATES the whole lake).
        # Known replay caveat: catalog ingest_ts is the commit-attempt
        # wall clock, so a crash-replay rewrites its partition with a
        # later timestamp (same rows otherwise) — ingest-time as-of
        # reads with a cutoff inside that window can shift; version-
        # exact time travel is the txlog sink's job.
        bid = f"b{batch_id:012d}"
        # pin the micro-batch across the 2-3 sinks: unpersisted, each
        # write re-ran the whole batch plan — JSON scan + the stateful
        # dedup — so the steady ingest cost was up to 3x for nothing
        # (round-7 review finding; the multi-sink persist is the
        # documented foreachBatch pattern)
        batch = batch.withColumn("batch_id", F.lit(bid)).persist()
        try:
            (
                batch.repartition("source")
                .sortWithinPartitions("source", "ts")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("source", "batch_id")
                .parquet(lake_path)
            )
            entries = build_catalog_entries(batch, bid)
            (
                entries.withColumn("batch_id", F.lit(bid))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("source", "batch_id")
                .parquet(catalog_path)
            )
            if delivery_root:
                (
                    batch.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("source", "batch_id")
                    .parquet(delivery_root)
                )
        finally:
            batch.unpersist()

    trigger = trigger or {"processingTime": "60 seconds"}  # R2 flush interval
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**trigger)
        .start()
    )


def run_ingest_available_now(
    spark: SparkSession,
    staging_path: str,
    lake_path: str,
    catalog_path: str,
    delivery_root: str | None,
    checkpoint_path: str,
) -> None:
    """Drain everything currently in staging (deterministic test mode
    / backfill mode: same code path, availableNow trigger)."""
    stream = read_event_stream(spark, staging_path)
    q = start_ingest_query(
        stream,
        lake_path,
        catalog_path,
        delivery_root,
        checkpoint_path,
        trigger={"availableNow": True},
    )
    q.awaitTermination()


def stream_stream_enrich(
    events: DataFrame,
    enrich: DataFrame,
    key: str = "user_id",
    max_skew: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each event matched to enrichment records
    for the same key within ±max_skew event time. Both sides carry
    watermarks so the join state store can evict rows once the
    time-range condition can no longer match — without the range
    bound, stream-stream join state grows forever. how="leftOuter"
    emits NULL-padded event rows, but only AFTER the watermark proves
    no matching enrichment can still arrive (outer results are
    delayed by the watermark, the documented Structured Streaming
    semantics — an availableNow drain emits them because the final
    batch advances the watermark past the data)."""
    e = events.select(
        F.col(key), F.col("ts").alias("e_ts"), "event_id", "value"
    ).withWatermark("e_ts", max_skew)
    x = enrich.select(
        F.col(key).alias(f"__x_{key}"), F.col("ts").alias("x_ts"), F.col("tag")
    ).withWatermark("x_ts", max_skew)
    cond = (
        (F.col(key) == F.col(f"__x_{key}"))
        & (F.col("x_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {max_skew}"))
        & (F.col("x_ts") <= F.col("e_ts") + F.expr(f"INTERVAL {max_skew}"))
    )
    return e.join(x, cond, how).select(key, "event_id", "value", "tag", "e_ts", "x_ts")


def windowed_counts_stream(stream: DataFrame, window: str = "1 hour") -> DataFrame:
    """Streaming tumbling-window aggregation with late-data handling —
    the watermark drops data later than the configured bound instead
    of silently miscounting (the reference ignores lateness entirely,
    SURVEY.md §2a end-note)."""
    return stream.groupBy("source", F.window("ts", window)).agg(
        F.count("*").alias("n"), F.sum("value").alias("sum_value")
    )


def stream_static_enrich(stream: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static dimension enrichment: the static side is re-read
    per micro-batch (so dim updates between batches are picked up) and
    needs no watermark or state store — Spark plans it as a plain
    broadcast/hash join inside each batch. The 100 TB pattern for
    joining a firehose against slowly-changing reference data."""
    return stream.join(F.broadcast(dim), key, "left").select(
        key, "event_id", "source", "value", "segment"
    )


def _replay_guard(
    table_path: str, txn_app: str | None, honor_legacy_markers: bool | None = None
):
    """Shared batch-replay guard for the txlog-sink queries:
    (already_committed(batch_id), marker_extra(batch_id)).

    The marker is (txn_app, batch_id) — the Delta (txnAppId,
    txnVersion) pattern. Spark batch ids restart at 0 on checkpoint
    reset and collide across independent queries writing one table;
    an app-scoped marker only dedups replays of THIS logical pipeline
    (pass a stable txn_app per pipeline when a table has, or may ever
    have, more than one writer). txn_app=None keeps the legacy
    single-writer form, where ANY marker with that batch id skips.

    Markers load from the log ONCE per query and are maintained in
    the closure afterwards — the previous per-batch
    committed_batch_ids() call re-read and re-parsed every log entry
    every micro-batch, O(versions²) over a stream's lifetime. Safe
    because txlog tables are single-writer per (table, txn_app): a
    marker this query didn't write can only belong to another app."""
    from serverless_datalake_spark.sources import txlog

    seen: set | None = None

    def already_committed(batch_id: int) -> bool:
        nonlocal seen
        if seen is None:
            # validate BEFORE assigning `seen`: the ambiguity raise
            # must re-fire on every call — if `seen` were set first, a
            # caller that caught the first ValueError (a supervisory
            # retry wrapper) would silently proceed with ignore-legacy
            # semantics on the next call (round-9 review finding)
            markers = txlog.committed_txn_markers(table_path)
            if (
                txn_app is not None
                and honor_legacy_markers is None
                and any(m[0] is None for m in markers)
            ):
                # Three-state contract (round-8 advisor finding: the
                # previous warn-and-proceed default let an upgraded
                # single-writer pipeline re-commit its pre-upgrade
                # batches — duplicates — behind a warning nobody
                # reads). Whether unscoped markers belong to THIS
                # pipeline (honor them: single-writer upgrade) or to
                # a DIFFERENT formerly-unscoped pipeline (ignore
                # them: honoring would silently DROP colliding batch
                # ids) is not decidable from the log, so when the
                # ambiguous state is actually present the operator
                # must decide explicitly: True or False, not the
                # None default.
                raise ValueError(
                    f"txlog table {table_path!r} carries legacy unscoped "
                    f"(txn_app=None) markers and guard {txn_app!r} was "
                    "started without an explicit honor_legacy_markers "
                    "decision. Pass honor_legacy_markers=True if THIS "
                    "pipeline wrote them (single-writer upgrade: a "
                    "straddling replay must skip those batches), or "
                    "False if another pipeline did (honoring them "
                    "would silently drop colliding batch ids)."
                )
            seen = markers
        if (txn_app, batch_id) in seen:
            return True
        if txn_app is None:
            return any(m[1] == batch_id for m in seen)
        # Upgrade path, OPT-IN ONLY: a pipeline that committed batches
        # in the legacy single-writer form (txn_app=None →
        # (None, batch_id) markers) and was then restarted with txn_app
        # set must still recognize its own pre-upgrade batches, or a
        # checkpoint replay straddling the upgrade re-commits them
        # (duplicate rows). Honoring legacy markers is safe only when
        # THIS pipeline was the table's sole unscoped writer — if two
        # pipelines both ran unscoped before being given distinct
        # txn_apps, each would silently skip (drop) batches whose ids
        # collide with the other's legacy markers (round-7 ADVICE
        # finding) — so it must be asserted explicitly by the operator
        # doing the upgrade, never applied by default.
        return bool(honor_legacy_markers) and (None, batch_id) in seen

    def marker_extra(batch_id: int) -> dict:
        # pure — the cache is updated by commit() only AFTER the
        # txlog publication returns (recording before success would
        # make a retried batch skip itself after a transient failure)
        extra = {"batch_id": batch_id}
        if txn_app is not None:
            extra["txn_app"] = txn_app
        return extra

    def commit(write_fn, batch_id: int) -> None:
        """Run the commit callable, then record the marker in the
        cache; on failure nothing is recorded and Spark's batch retry
        re-enters already_committed with the cache unchanged."""
        write_fn(marker_extra(batch_id))
        if seen is not None:
            seen.add((txn_app, batch_id))

    return already_committed, commit


def start_txlog_ingest_query(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    trigger: dict | None = None,
    txn_app: str | None = None,
    honor_legacy_markers: bool | None = None,
) -> StreamingQuery:
    """Ingest with an ACID sink: each micro-batch commits through the
    transaction log (sources/txlog.py), so a batch's files become
    visible all-or-nothing and a crash mid-write leaves only orphaned
    data files the readers never see. Exactly-once composition: the
    checkpoint dedups batch replays on the source side, and a replayed
    batch that already committed would re-commit — so the batch id
    rides INSIDE the atomic log-entry publication (txlog_write extra=;
    a crash can never separate the commit from its marker), and the
    replay guard skips batches whose (txn_app, id) marker is already
    in the log (vacuum checkpoints carry markers forward). Pass a
    stable txn_app when more than one pipeline may ever write this
    table — see _replay_guard."""
    from serverless_datalake_spark.sources import txlog

    already_committed, commit = _replay_guard(
        table_path, txn_app, honor_legacy_markers
    )

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if already_committed(batch_id):
            return  # replay of an already-committed batch
        commit(
            lambda extra: txlog.txlog_write(
                batch.withColumn("batch_id", F.lit(batch_id)),
                table_path,
                extra=extra,
            ),
            batch_id,
        )

    trigger = trigger or {"availableNow": True}
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**trigger)
        .start()
    )


def start_windowed_topk_query(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int = 3,
    window: str = "1 hour",
):
    """Streaming leaderboard (the runtime half of the batch-verified
    stream_topk_windowed query): windowed counts run incrementally
    under the watermark; rank is NOT an incremental operator, so the
    per-window top-k happens in foreachBatch over the batch's CLOSED
    windows only (append mode emits each window exactly once, so the
    leaderboard rows are exactly-once too — checkpoint-replayed
    batches rewrite the same window keys deterministically).

    State cost: the windowed aggregation's state is bounded by the
    watermark; the foreachBatch rank touches only the windows that
    closed in this batch — k rows per window leave the sink."""
    agg = windowed_counts_stream(stream, window)

    def emit_topk(batch_df: DataFrame, batch_id: int) -> None:
        # exactly-once under checkpoint replay: rows land in a
        # batch_id partition with dynamic overwrite, so a re-run batch
        # REPLACES its own output — a bare append duplicated every
        # (ws, rank) row of a batch replayed after a crash
        w = Window.partitionBy("ws").orderBy(F.col("n").desc(), "source")
        (
            batch_df.select(
                "source", F.col("window.start").alias("ws"), "n"
            )
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    return (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .foreachBatch(emit_topk)
        .start()
    )


def start_txlog_upsert_query(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    key: str = "event_id",
    order_col: str = "ts",
    trigger: dict | None = None,
    txn_app: str | None = None,
    honor_legacy_markers: bool | None = None,
) -> StreamingQuery:
    """Streaming CDC upsert: each micro-batch MERGEs into the txlog
    table by key — the mutable-table sink for change streams
    (cdc_latest_by_key's semantics made durable). Within a batch,
    latest-wins per key on (order_col DESC, full-row hash) — the key
    itself is constant within its window partition, so it cannot
    tiebreak; the row hash makes equal-timestamp versions resolve
    DETERMINISTICALLY (identical rows are interchangeable; distinct
    rows order by hash, stable across runs and replays). Across
    batches, the copy-on-write MERGE replaces matched keys atomically.
    Exactly-once: the batch id rides inside the MERGE's atomic commit
    entry, and replayed batches are skipped — MERGE is NOT idempotent
    against interleaved writers, so the marker does real work.

    At scale the rewrite narrows to files whose key ranges overlap the
    batch (txlog_upsert docstring); the guard and marker mechanics are
    identical to start_txlog_ingest_query's (shared _replay_guard)."""
    from serverless_datalake_spark.sources import txlog

    already_committed, commit = _replay_guard(
        table_path, txn_app, honor_legacy_markers
    )

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if already_committed(batch_id):
            return  # replay of an already-committed batch
        tiebreak = F.xxhash64(*[F.col(c) for c in batch.columns])
        w = Window.partitionBy(key).orderBy(F.col(order_col).desc(), tiebreak)
        latest = (
            batch.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        commit(
            lambda extra: txlog.txlog_upsert(
                batch.sparkSession, table_path, latest, key, extra=extra
            ),
            batch_id,
        )

    trigger = trigger or {"availableNow": True}
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**trigger)
        .start()
    )


def start_dedup_admission_query(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger: dict | None = None,
    txn_app: str | None = None,
    honor_legacy_markers: bool | None = None,
) -> StreamingQuery:
    """Streaming INCREMENTAL DEDUP ADMISSION: each micro-batch admits
    only documents whose normalized-content fingerprint has never been
    admitted before — within the batch (first id wins, deterministic)
    AND against every previously committed batch (anti-join on the
    admitted table's fingerprints). The accepted rows land in a txlog
    commit carrying the batch id, so a replayed batch is skipped
    whole: exactly-once admission even though the dedup decision is
    stateful across batches.

    This is the streaming face of the batch dedup family: the
    reference pipeline re-publishes replayed blobs without
    re-cataloging them (event_recorder lambda_function.py:94–99 — its
    only idempotence); here admission itself is idempotent AND
    content-deduplicated, closing SURVEY §1.4's at-least-once gap at
    the ingest boundary rather than downstream.

    At 100 TB the anti-join's right side is the admitted FINGERPRINT
    column only (hash-sized, not corpus-sized); production narrows it
    further with the Bloom screen (dedup_bloom_incremental) before
    the exact anti-join — same two-stage shape, same guarantees."""
    from serverless_datalake_spark.sources import txlog

    already_committed, commit = _replay_guard(
        table_path, txn_app, honor_legacy_markers
    )

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if already_committed(batch_id):
            return
        spark = batch.sparkSession
        # the CANONICAL fingerprint — shared with batch dedup
        # (exact_dedup_survivors) and the SQL oracles; an inline copy
        # here would silently desynchronize streaming admission from
        # batch dedup if the normalization ever changes (round-7
        # review finding)
        from serverless_datalake_spark.operators.textops import fingerprint_md5

        fp = fingerprint_md5(F.col(text_col))
        w = Window.partitionBy("__fp").orderBy(F.col(id_col))
        in_batch = (
            batch.withColumn("__fp", fp)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        try:
            seen = txlog.txlog_read(spark, table_path).select(
                F.col("__fp").alias("__seen_fp")
            ).distinct()
            fresh = in_batch.join(
                seen, in_batch["__fp"] == seen["__seen_fp"], "left_anti"
            )
        except FileNotFoundError:
            fresh = in_batch  # first batch: nothing admitted yet
        # commit even when empty: the batch id must be recorded so a
        # replay of an all-duplicate batch stays a no-op
        commit(
            lambda extra: txlog.txlog_write(fresh, table_path, extra=extra),
            batch_id,
        )

    trigger = trigger or {"availableNow": True}
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**trigger)
        .start()
    )
