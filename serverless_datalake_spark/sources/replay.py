"""Replay job (reference E2, SURVEY.md §3): catalog range query →
copy of the selected batches' lake files → re-delivery, WITHOUT
re-cataloging.

Semantics pinned to the reference:
* selection is `source = :s AND ingest_ts BETWEEN :a AND :b`
  (replayer:19–39) — partition pruning (source) + min/max skipping
  (ingest_ts) on the catalog table;
* a selected batch is re-delivered by reference to what was stored:
  the reference's replayer hands the catalog key to the recorder,
  which re-fetches that object and publishes it (replayer:44–54 →
  recorder:94–99). Here a lake file that holds one selected batch
  alone is copied into the delivery as it is, the way ingest delivers
  (``ingest.commit_batch``); only a file that mixes batches
  (compaction output) is re-read and its selected rows re-written;
* replayed records are re-delivered but the catalog is NOT appended
  (recorder:94–99 writes no entry on the 'Replay' branch) — replay is
  distribution-only and non-self-amplifying;
* replay checks conservation: the re-delivered rows must equal the
  selected catalog rows' Σ n_records, and the re-delivery stays staged
  until they do. Lost lake files, a lake written without batch ids, or
  a batch landed twice raise instead of re-delivering a silent subset
  or surplus, and publish nothing.

The catalog and the lake are read schema-first (``read_catalog``,
``lake.LAKE_SCHEMA``), so a replay launches no job to learn their
shape.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from serverless_datalake_spark.sources import lake
from serverless_datalake_spark.sources.ingest import (
    _holds_data,
    _publish,
    _staged,
    fan_out,
    read_catalog,
)


def select_replay_keys(
    spark: SparkSession,
    catalog_path: str,
    source: str,
    interval_start: dt.datetime | str,
    interval_end: dt.datetime | str,
) -> DataFrame:
    """R12: the flagship range query over the catalog."""
    cat = read_catalog(spark, catalog_path)
    return cat.where(
        (F.col("source") == source)
        & F.col("ingest_ts").between(F.lit(interval_start), F.lit(interval_end))
    )


def read_lake_as_of(
    spark: SparkSession,
    catalog_path: str,
    lake_path: str,
    as_of: dt.datetime | str,
) -> DataFrame:
    """Snapshot (time-travel) read: the lake as it existed when the
    last batch at-or-before ``as_of`` was cataloged. The catalog's
    ingest_ts → batch_id mapping is the snapshot log (the role a table
    format's metadata layer plays); batches after the snapshot are
    filtered out of the scan by a row-level semi-join on ``batch_id``;
    the lake is partitioned by source only, so every file of the lake
    is listed and read."""
    cat = read_catalog(spark, catalog_path)
    selected = _batch_id_keys(cat.where(F.col("ingest_ts") <= F.lit(as_of)))
    lake_df = lake.read_lake(spark, lake_path)
    # broadcast semi-join, NOT isin(collect()): an as-of read selects
    # the whole history up to the cutoff, over every source, so at
    # millions of cataloged batches a literal IN list would be a giant
    # expression tree on the driver; the join keeps selection
    # distributed. (A replay may collect: its selection is one source
    # over one interval.)
    return lake_df.join(F.broadcast(selected), on="batch_id", how="left_semi")


def _batch_id(file_key: Column) -> Column:
    """file_key ('{source}/{batch}.parquet') → its batch id. The batch
    id is the LAST path segment: a source may hold '/' (file_key
    'ads/click/b0.parquet')."""
    return F.regexp_replace(F.substring_index(file_key, "/", -1), r"\.parquet$", "")


def _batch_id_keys(catalog_rows: DataFrame) -> DataFrame:
    """The distinct batch ids of ``catalog_rows``, derived engine-side
    so no key list ever lands on the driver."""
    keys = catalog_rows.select(_batch_id(F.col("file_key")).alias("batch_id"))
    return keys.where(F.col("batch_id") != "").distinct()


def _sole_batch(footer: pq.FileMetaData) -> str | None:
    """The batch whose rows alone a lake file holds, read off its
    Parquet footer (``lake.column_range``): its ``batch_id`` min equals
    its max and it has no nulls. None for a file that mixes batches
    (compaction output) or has no ``batch_id`` statistics."""
    rng = lake.column_range(footer, "batch_id")
    if rng is None:
        return None
    lo, hi, has_nulls = rng
    return lo if lo == hi and not has_nulls and isinstance(lo, str) else None


def replay(
    spark: SparkSession,
    catalog_path: str,
    lake_path: str,
    delivery_root: str,
    source: str,
    interval_start: dt.datetime | str,
    interval_end: dt.datetime | str,
) -> dict[str, int]:
    """R13: re-deliver the selected batches of ``source`` from the
    lake, with no catalog write.

    One Spark job collects the selected catalog rows' batch ids and
    n_records; the list is bounded by one source over one interval, as
    the reference replayer's loop is. Each data file of the source's
    lake partition is then classified by its Parquet footer, not its
    name: a file holding one selected batch alone is copied into the
    re-delivery's staging directory, its rows counted from the footer;
    a file holding one other batch is skipped; a file that mixes
    batches, has no batch_id statistics or sits in a sub-partition
    directory is read schema-first and its selected rows written
    through ``ingest.fan_out``. So a replay costs one footer read per
    data file of the source partition, not a read of every row of
    them; a catalog that named each batch's files would cut that to
    the selected files.

    The re-delivery is published only if it holds exactly the selected
    catalog rows' Σ n_records. Otherwise replay raises ValueError and
    publishes nothing: a deficit means those rows name lake data that
    is gone or has no batch_id, a surplus that the lake holds a batch's
    rows more than once. An empty selection reads no lake file and
    publishes nothing."""
    keys = select_replay_keys(spark, catalog_path, source, interval_start, interval_end)
    rows = keys.select(_batch_id(F.col("file_key")).alias("batch_id"), "n_records").collect()
    if not rows:
        return {"n_batches": 0, "n_events": 0}
    catalogued = sum(r["n_records"] or 0 for r in rows)
    selected = {r["batch_id"] for r in rows} - {None, ""}
    copies, mixed = [], []
    for d in lake.source_dirs(lake_path, source):
        for f in lake.data_files(d):
            footer = pq.read_metadata(f)
            batch = _sole_batch(footer)
            if batch is not None and batch not in selected:
                continue
            if batch is None or os.path.dirname(f) != d:
                # a selected batch's file in a sub-partition directory
                # (a lake written with a finer chain than source=) is
                # re-read too: that restores its partition values and
                # keeps the delivery in the source= layout, and copied
                # by name it would meet its task's namesakes from the
                # other sub-directories
                mixed.append(f)
            else:
                copies.append((f, os.path.basename(d), footer.num_rows))
    # replays have no batch id, so each stages and names its files under
    # an id of its own, which no commit's re-run removes
    replay_id = f"replay-{uuid.uuid4().hex}"
    staged = _staged(delivery_root, replay_id)
    try:
        n_events = 0
        if mixed:
            filtered = Observation()
            events = (
                spark.read.schema(lake.LAKE_SCHEMA)
                .option("basePath", lake_path)
                .parquet(*mixed)
                .where(F.col("batch_id").isin(sorted(selected)))
                .observe(filtered, F.count(F.lit(1)).alias("n_events"))
            )
            fan_out(events, staged)
            # a scan with no partitions never fires its observation; such
            # a write leaves no data file
            n_events = filtered.get["n_events"] if _holds_data(staged) else 0
        for f, partition, n_rows in copies:
            os.makedirs(os.path.join(staged, partition), exist_ok=True)
            shutil.copyfile(f, os.path.join(staged, partition, os.path.basename(f)))
            n_events += n_rows
        missing = catalogued - n_events
        if missing:
            # a lake without batch ids (or with lost files) cannot honor
            # the interval: a missing batch_id reads as NULL and matches
            # no key; a surplus is a batch whose rows landed twice
            raise ValueError(
                f"replay of {source!r} delivered {n_events} events but the catalog "
                f"records {catalogued} for the selected batches; the "
                f"lake at {lake_path} has "
                + (
                    f"no batch_id row for the other {missing}"
                    if missing > 0
                    else f"{-missing} rows more than catalogued"
                )
                + "; nothing was re-delivered"
            )
        _publish(staged, delivery_root, replay_id)
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    return {"n_batches": len(rows), "n_events": n_events}
