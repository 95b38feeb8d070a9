"""Batch ingest job: staging JSON → partitioned lake + catalog append
+ per-source delivery (reference E1, SURVEY.md §3).

One declarative job replaces the reference's five-service hop chain
(APIGW→Firehose→S3→SQS→Lambda, stack.py:177–216 → recorder:71–92):

  events.json.gz ──read──► lake (partitionBy source, sorted by ts)
                      │          └──copy──► delivery root, one partition per source
                      └──► catalog append (source, ingest_ts, file_key)

Data lands before metadata, as in the reference, where the recorder
runs only once the blob is in S3 (ObjectCreated → SQS, stack.py:58–60)
and fetches it before its catalog put and publish (recorder:86–92).
Each batch is Parquet-encoded once. Two Spark jobs run concurrently
(``concurrently``), so small write jobs share the cores instead of
queueing for them: the lake write and the catalog aggregate, each
parsing the blob in full rather than sharing a cached parse. The
delivery is a byte copy of the lake write's files, as the reference
publishes the same records it stored (recorder:55–65). Before
anything is published, the rows the lake write landed must equal the
catalog's Σ n_records (ValueError otherwise). Every write goes to a
hidden staging directory, and the files move into place only once all
of this has succeeded: the lake first, then the delivery, then the
catalog. So a catalog row always names committed lake data, and a
failed batch publishes nothing, so a retry of the same batch lands it
once.

The catalog is itself a partitioned Parquet table, so the DynamoDB
(pk=Source, sk=Timestamp) query shape (stack.py:63–77) becomes
partition pruning + min/max skipping.
"""

from __future__ import annotations

import functools
import operator
import os
import re
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

# a batch id names a staging directory and ends every catalog file_key,
# so it holds no path separator, no dot and no leading '_' or '.'
BATCH_ID = re.compile(r"[A-Za-z0-9][A-Za-z0-9_-]*")


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
    """R10/R11: per-source delivery of rows that are not already
    encoded as lake files; replay's re-delivery writer (ingest copies
    its lake files instead). The reference loops SNS publishes per
    record (recorder:55–65); here one partitioned write delivers every
    record to its source's directory ``<delivery_root>/source=<s>/``,
    the layout ingest's copy has too, and subscribers read their own
    partition (distribution.subscribe)."""
    events.write.mode("append").partitionBy("source").parquet(delivery_root)


def _holds_data(path: str) -> bool:
    """Whether a finished write left a data file under ``path``."""
    return any(n.endswith(".parquet") for _, _, names in os.walk(path) for n in names)


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
    partitioned by source and append its catalog entries, as two
    concurrent jobs; the delivery is a copy of the lake write's files.
    Nothing is published until both jobs have succeeded and the lake's
    landed rows equal the catalog's Σ n_records; otherwise it raises
    (ValueError for a count mismatch, naming both counts). Returns
    counts, ``n_quarantined`` being the records routed to the
    quarantine source. Raises ValueError, before any read or write, if
    ``batch_id`` does not match ``BATCH_ID``."""
    if not BATCH_ID.fullmatch(batch_id):
        raise ValueError(f"batch_id {batch_id!r} does not match {BATCH_ID.pattern}")
    raw = lake.read_json_events(spark, staging_path)
    # Both jobs scan the staging path through this one DataFrame, and a
    # DataFrame fixes its file list when it is created, so nothing is
    # cached: a file landing in staging during the ingest is read by
    # neither job. The two scans must also parse each line alike. One
    # pruned to the routing column skips the other fields unconverted,
    # so a line whose syntax breaks inside one of them (an object-valued
    # props cut short) reads as all-null there, while the full parse
    # keeps the event_type read before the break: the catalog would
    # count under __unknown__ a row the lake files under its source.
    # This observation (lines that parsed to nothing) references every
    # column, so neither scan is pruned.
    unparsed = functools.reduce(operator.and_, [F.col(c).isNull() for c in raw.columns])
    raw = raw.observe("ingest_unparsed_lines", F.count_if(unparsed))
    events = with_source(raw, source_col).withColumn("batch_id", F.lit(batch_id))
    # every write goes to a staging directory, published in this order
    # once all have succeeded: data before metadata, the catalog (the
    # lake's snapshot log, replay.read_lake_as_of) last
    staged = {lake_path: _staged(lake_path, batch_id)}
    if delivery_root:
        staged[delivery_root] = _staged(delivery_root, batch_id)
    staged[catalog_path] = _staged(catalog_path, batch_id)
    try:
        # the counts come from the writes themselves: the rows the lake
        # write landed, and the catalog rows (one per source, n_records
        # each), not from extra jobs over the batch
        landed = Observation()
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
        concurrently(
            spark,
            lambda: lake.write_partitioned(
                events.observe(landed, F.count(F.lit(1)).alias("n_rows")), staged[lake_path]
            ),
            lambda: append_catalog(entries, staged[catalog_path]),
        )
        n = counts.get
        # a scan with no partitions never fires the lake's observation;
        # such a write leaves no data file
        n_landed = landed.get["n_rows"] if _holds_data(staged[lake_path]) else 0
        if n_landed != n["n_events"]:
            raise ValueError(
                f"batch {batch_id!r} landed {n_landed} lake rows but its catalog "
                f"records {n['n_events']}; nothing was published"
            )
        if delivery_root:
            shutil.copytree(staged[lake_path], staged[delivery_root])
        for root, path in staged.items():
            _publish(path, root)
    finally:
        for path in staged.values():
            shutil.rmtree(path, ignore_errors=True)
    return {
        "n_events": n["n_events"],
        "n_sources": n["n_sources"],
        "n_quarantined": n["n_quarantined"],
        "batch_id": batch_id,  # type: ignore[dict-item]
    }
