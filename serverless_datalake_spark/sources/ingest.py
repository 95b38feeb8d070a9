"""Batch ingest job: staging JSON → partitioned lake + catalog append
+ per-source fan-out (reference E1, SURVEY.md §3).

One declarative job replaces the reference's five-service hop chain
(APIGW→Firehose→S3→SQS→Lambda, stack.py:177–216 → recorder:71–92):

  events.json.gz ──read──► lake (partitionBy source, sorted by ts)
                      ├──► catalog append (source, ingest_ts, file_key)
                      └──► fan-out: delivery root, one partition per source

Data lands before metadata, as in the reference, where the recorder
runs only once the blob is in S3 (ObjectCreated → SQS, stack.py:58–60)
and fetches it before its catalog put and publish (recorder:86–92). The
three sinks still run as concurrent Spark jobs over one persisted parse
(``concurrently``), so small write jobs share the cores instead of
queueing for them; but the catalog and the fan-out write into hidden
staging directories, and their files move into place only once every
sink has finished, the lake first among them. So a catalog row always
names committed lake data, and a failed sink leaves no catalog row and
no delivery behind.

The catalog is itself a partitioned Parquet table, so the DynamoDB
(pk=Source, sk=Timestamp) query shape (stack.py:63–77) becomes
partition pruning + min/max skipping.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from serverless_datalake_spark.sources import lake

CATALOG_SCHEMA = "source STRING, ingest_ts TIMESTAMP, file_key STRING, n_records BIGINT"

# the source of records whose routing value is null or empty
QUARANTINE_SOURCE = "__unknown__"


def concurrently(spark: SparkSession, *calls: Callable[[], Any]) -> list[Any]:
    """Run independent Spark actions at the same time, one thread per
    call, and return their results in call order.

    Every call runs to completion before this returns, so no job is
    left running; then the first failed call's error (in call order)
    is raised. Each call is wrapped in ``inheritable_thread_target``
    while still on the calling thread: the thread carries the caller's
    local properties and session tags, so its jobs stay in the
    caller's job group (a bare pool thread starts without them). This
    is the package's one thread pool for Spark actions."""
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(c)) for c in calls]
    return [f.result() for f in futures]


def _staged(root: str, batch_id: str) -> str:
    """Where a batch's write to ``root`` waits to be published: a
    ``_``-prefixed directory, which Spark's file listing skips."""
    return os.path.join(root, f"_staged-{batch_id}")


def _publish(staged: str, root: str) -> None:
    """Move a finished write's files from ``staged`` to the same
    relative paths under ``root`` (the staged-then-move pattern of
    maintenance.compact). Spark's part-file names carry a per-job
    UUID, so they never collide with files already there."""
    for base, _, names in os.walk(staged):
        dest = os.path.join(root, os.path.relpath(base, staged))
        for n in names:
            if n.lstrip(".").startswith("_"):
                continue  # the write's _SUCCESS marker and its checksum
            os.makedirs(dest, exist_ok=True)
            os.replace(os.path.join(base, n), os.path.join(dest, n))


def build_catalog_entries(events: DataFrame, batch_id: str) -> DataFrame:
    """R9: one catalog row per (source, batch) — item shape mirrors
    recorder:16–31 `(Source, Timestamp, Key)` plus a record count.
    ingest_ts is the processing time the reference takes from SQS
    SentTimestamp (recorder:77); here it's stamped per batch."""
    return events.groupBy(F.col("source")).agg(
        F.count("*").alias("n_records"),
    ).select(
        "source",
        F.current_timestamp().alias("ingest_ts"),
        F.concat(F.col("source"), F.lit(f"/{batch_id}.parquet")).alias("file_key"),
        "n_records",
    )


def append_catalog(entries: DataFrame, catalog_path: str) -> None:
    entries.write.mode("append").partitionBy("source").parquet(catalog_path)


def read_catalog(spark: SparkSession, catalog_path: str) -> DataFrame:
    """Schema-first, like ``lake.read_lake``; the streaming sink's
    ``batch_id=`` partitions still come through as a column."""
    return spark.read.schema(CATALOG_SCHEMA).parquet(catalog_path)


def with_source(events: DataFrame, source_col: str) -> DataFrame:
    """The routing column: ``source`` = ``source_col`` as a string, with
    null and empty values sent to an explicit ``__unknown__`` quarantine
    source. Spark writes both as the Hive default partition and reads
    them back as NULL, so such rows would reach no subscriber and their
    catalog file_key (a concat with the source) would be NULL, out of
    reach of every replay."""
    name = F.nullif(F.col(source_col).cast("string"), F.lit(""))
    return events.withColumn("source", F.coalesce(name, F.lit(QUARANTINE_SOURCE)))


def fan_out(events: DataFrame, delivery_root: str) -> None:
    """R10/R11: per-source delivery, the one delivery writer. The
    reference loops SNS publishes per record (recorder:55–65); here one
    partitioned write delivers every record to its source's directory
    ``<delivery_root>/source=<s>/``, and subscribers read their own
    partition (distribution.subscribe)."""
    events.write.mode("append").partitionBy("source").parquet(delivery_root)


def ingest_batch(
    spark: SparkSession,
    staging_path: str,
    lake_path: str,
    catalog_path: str,
    delivery_root: str | None,
    batch_id: str,
    source_col: str = "event_type",
) -> dict[str, int]:
    """E1 end-to-end: read staging JSON, then land it in the lake
    partitioned by source, append catalog entries and fan out, the
    three sinks as concurrent jobs; the catalog rows and deliveries are
    published only after all three have succeeded. Returns counts,
    ``n_quarantined`` being the records routed to the quarantine
    source."""
    raw = lake.read_json_events(spark, staging_path)
    events = with_source(raw, source_col).withColumn("batch_id", F.lit(batch_id))
    # ONE materialization feeds the lake write, the catalog aggregate
    # and the fan-out: unpersisted, each sink re-read and re-parsed the
    # staging JSON, and a file landing in staging between them made
    # lake and catalog mutually inconsistent. The sinks run at once;
    # the first job to reach a partition fills its cache block while
    # the others wait on the block's lock, so the blob is still read
    # once. Unpersisted only after every sink has returned.
    events = events.persist()
    # the catalog is the lake's snapshot log (replay.read_lake_as_of),
    # so its rows, and the deliveries with them, stay staged until the
    # lake write has committed
    staged = {catalog_path: _staged(catalog_path, batch_id)}
    if delivery_root:
        staged[delivery_root] = _staged(delivery_root, batch_id)
    try:
        # the counts come from the catalog write itself (one row per
        # source, n_records each), not from extra jobs over the batch
        counts = Observation()
        quarantined = F.when(F.col("source") == QUARANTINE_SOURCE, F.col("n_records"))
        entries = build_catalog_entries(events, batch_id).observe(
            counts,
            F.coalesce(F.sum("n_records"), F.lit(0)).alias("n_events"),
            F.count(F.lit(1)).alias("n_sources"),
            F.coalesce(F.sum(quarantined), F.lit(0)).alias("n_quarantined"),
        )
        # sinks are looked up when called, so wrapped module attributes
        # (tracing) still take effect
        sinks = [
            lambda: lake.write_partitioned(events, lake_path),
            lambda: append_catalog(entries, staged[catalog_path]),
        ]
        if delivery_root:
            sinks.append(lambda: fan_out(events, staged[delivery_root]))
        concurrently(spark, *sinks)
        for root, path in staged.items():
            _publish(path, root)
    finally:
        events.unpersist()
        for path in staged.values():
            shutil.rmtree(path, ignore_errors=True)
    n = counts.get
    return {
        "n_events": n["n_events"],
        "n_sources": n["n_sources"],
        "n_quarantined": n["n_quarantined"],
        "batch_id": batch_id,  # type: ignore[dict-item]
    }
