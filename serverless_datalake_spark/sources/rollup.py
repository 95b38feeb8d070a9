"""Continuous-aggregate rollup (hypertable-style materialization).

Raw events are append-heavy and queried by coarse time buckets; a
materialized hourly rollup turns those queries into scans of a table
~1000× smaller. The rollup is maintained incrementally per ingest
batch (idempotent per batch_id — re-running a batch replaces its
contribution), and query-time aggregation composes partial states:
count/sum re-aggregate exactly; min/max likewise. AVG is derived
sum/count at read time (never materialize averages — they don't
compose).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def rollup_hourly(events: DataFrame) -> DataFrame:
    """One row per (source, hour): composable partial aggregates."""
    return events.groupBy(
        "source", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def append_rollup(events: DataFrame, rollup_path: str, batch_id: int | str) -> None:
    """Materialize one batch's hourly partials, idempotently per
    batch_id: the partials land under a batch_id=… partition via
    DYNAMIC partition overwrite, so a foreachBatch retry (the normal
    streaming failure mode) REPLACES its own prior contribution
    instead of appending a duplicate — which a blind append would
    silently double-count in every downstream re-aggregation. Other
    batches' partitions are untouched.

    Partitioned by batch_id ONLY: an overwrite partitioned by
    (batch_id, source) replaces just the partitions PRESENT in the
    retry, so a replayed batch that yields fewer sources than the
    original attempt (source-level filter change, corrupt-span skip)
    leaves the missing source's stale partials behind — double-counted
    downstream forever. With batch_id as the sole partition key a
    retry replaces the batch's entire contribution; source stays a
    sorted data column, so per-source reads still skip row groups on
    min/max stats. The overwrite mode rides the WRITE (option), not
    the session conf — a set/restore of the session key races with
    concurrent queries on the same session.

    Two more guards:
    * A table written under the OLD (batch_id, source) layout cannot
      silently mix with the new depth — Spark's partition discovery
      would fail on every read with "conflicting directory
      structures". Detected up front and raised with a migration
      pointer (a rollup is derived state: rebuild it).
    * A retry that yields ZERO rows would dynamic-overwrite nothing
      and leave the original attempt's whole contribution behind —
      the same stale-partial class at batch grain. An empty batch now
      explicitly removes its own partition directory instead.
    """
    legacy = glob.glob(os.path.join(rollup_path, "batch_id=*", "source=*"))
    if legacy:
        raise ValueError(
            f"rollup at {rollup_path} uses the legacy (batch_id, source) "
            "partition layout; mixing layouts breaks partition discovery "
            "on every read — rebuild the rollup (it is derived state: "
            "delete the directory and replay append_rollup per batch)"
        )
    agg = rollup_hourly(events).withColumn("batch_id", F.lit(str(batch_id)))
    agg = agg.persist()
    try:
        if agg.count() == 0:
            stale = os.path.join(rollup_path, f"batch_id={batch_id}")
            if os.path.isdir(stale):
                shutil.rmtree(stale)
            return
        (
            agg.sortWithinPartitions("source", "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(rollup_path)
        )
    finally:
        agg.unpersist()


def read_rollup_daily(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Query-time re-aggregation to daily grain from hourly partials —
    exact for count/sum/min/max, avg derived."""
    r = spark.read.parquet(rollup_path)
    return r.groupBy(
        "source", F.date_trunc("day", F.col("bucket")).alias("day")
    ).agg(
        F.sum("n").alias("n"),
        F.round(F.sum("sum_value"), 2).alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.round(F.sum("sum_value") / F.sum("n"), 4).alias("avg_value"),
    )
