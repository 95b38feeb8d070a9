"""Replay job (reference E2, SURVEY.md §3): catalog range query →
file-selective re-read → re-delivery, WITHOUT re-cataloging.

Semantics pinned to the reference:
* selection is `source = :s AND ingest_ts BETWEEN :a AND :b`
  (replayer:19–39) — partition pruning (source) + min/max skipping
  (ingest_ts) on the catalog table;
* replayed records are re-delivered but the catalog is NOT appended
  (recorder:94–99 writes no entry on the 'Replay' branch) — replay is
  distribution-only and non-self-amplifying;
* replay checks conservation in the same pass: the re-delivered rows
  must equal the selected catalog rows' Σ n_records, and the
  re-delivery stays staged until they do. Lost lake files, a lake
  written without batch ids, or a batch landed twice raise instead of
  re-delivering a silent subset or surplus, and publish nothing.

The catalog and the lake are read schema-first (``read_catalog``,
``lake.read_lake``), so a replay launches no job to learn their shape.
"""

from __future__ import annotations

import datetime as dt
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from serverless_datalake_spark.sources import lake
from serverless_datalake_spark.sources.ingest import (
    _publish,
    _staged,
    concurrently,
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
    # broadcast semi-join, NOT isin(collect()): at millions of cataloged
    # batches a literal IN list is a giant expression tree on the
    # driver; the join keeps selection distributed.
    return lake_df.join(F.broadcast(selected), on="batch_id", how="left_semi")


def _batch_id_keys(catalog_rows: DataFrame) -> DataFrame:
    """file_key ('{source}/{batch}.parquet') → distinct batch_id keys,
    derived engine-side so no key list ever lands on the driver."""
    # the batch id is the LAST path segment: a source may hold '/'
    # (file_key 'ads/click/b0.parquet')
    return (
        catalog_rows.select(
            F.regexp_replace(
                F.substring_index(F.col("file_key"), "/", -1),
                r"\.parquet$",
                "",
            ).alias("batch_id")
        )
        .where(F.col("batch_id") != "")
        .distinct()
    )


def replay(
    spark: SparkSession,
    catalog_path: str,
    lake_path: str,
    delivery_root: str,
    source: str,
    interval_start: dt.datetime | str,
    interval_end: dt.datetime | str,
) -> dict[str, int]:
    """R13: re-read the selected batches from the lake and re-deliver
    them through ingest's fan-out, the one delivery writer.

    The lake is partitioned by source, so the re-read is a pruned scan
    filtered to the cataloged batch keys; no catalog write happens.
    The catalog totals (batch count and Σ n_records) run as one
    aggregate concurrently with the re-delivery, which is written to a
    staging directory and published only if it holds exactly the
    selected catalog rows' Σ n_records. Otherwise it raises ValueError
    and publishes nothing: a deficit means those rows name lake data
    that is gone or has no batch_id, a surplus that the lake holds a
    batch's rows more than once."""
    keys = select_replay_keys(spark, catalog_path, source, interval_start, interval_end)
    totals = keys.agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.coalesce(F.sum("n_records"), F.lit(0)).alias("n_records"),
    )

    events = lake.read_lake(spark, lake_path).where(F.col("source") == source)
    # distributed key selection (see read_lake_as_of for rationale);
    # the delivered row count comes from the delivery write itself
    delivered = Observation()
    events = events.join(
        F.broadcast(_batch_id_keys(keys)), on="batch_id", how="left_semi"
    ).observe(delivered, F.count(F.lit(1)).alias("n_events"))
    # replays have no batch id, so each stages and names its files under
    # an id of its own, which no commit's re-run removes
    replay_id = f"replay-{uuid.uuid4().hex}"
    staged = _staged(delivery_root, replay_id)
    try:
        catalogued, _ = concurrently(spark, totals.first, lambda: fan_out(events, staged))
        n_events = delivered.get["n_events"]
        missing = catalogued["n_records"] - n_events
        if missing:
            # a lake without batch ids (or with lost files) cannot honor
            # the interval: a missing batch_id reads as NULL and matches
            # no key; a surplus is a batch whose rows landed twice
            raise ValueError(
                f"replay of {source!r} delivered {n_events} events but the catalog "
                f"records {catalogued['n_records']} for the selected batches; the "
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
    return {"n_batches": catalogued["n_batches"], "n_events": n_events}
