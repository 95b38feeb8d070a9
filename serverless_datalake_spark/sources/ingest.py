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
publishes the same records it stored (recorder:55–65). Every write
is staged and published only once the batch's counts agree: the lake
first, the catalog last, so a catalog row always names committed lake
data. ``commit_batch`` is that one recorder (the reference's
event_recorder) for blobs and streaming micro-batches alike, so every
table has one layout, ``<root>/source=<s>/<batch_id>.part-*.parquet``.

The catalog is itself a partitioned Parquet table, so the DynamoDB
(pk=Source, sk=Timestamp) query shape (stack.py:63–77) becomes
partition pruning + min/max skipping.
"""

from __future__ import annotations

import functools
import glob
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

# the source of records whose routing value is null or empty, or malformed
QUARANTINE_SOURCE = "__unknown__"

# a batch id names a staging directory, prefixes its published files and
# ends every catalog file_key, so it holds no path separator, no dot and
# no leading '_' or '.'
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


def _publish(staged: str, root: str, batch_id: str) -> None:
    """Move a finished write's files from ``staged`` to the same
    relative paths under ``root`` (the staged-then-move pattern of
    maintenance.compact), each named ``<batch_id>.<spark name>``; a
    hidden checksum is ``.<batch_id>.<spark name>.crc``, so it still
    matches its data file and stays hidden."""
    for base, _, names in os.walk(staged):
        dest = os.path.join(root, os.path.relpath(base, staged))
        for n in names:
            if n.lstrip(".").startswith("_"):
                continue  # the write's _SUCCESS marker and its checksum
            name = f"{'.' * n.startswith('.')}{batch_id}.{n.lstrip('.')}"
            os.makedirs(dest, exist_ok=True)
            os.replace(os.path.join(base, n), os.path.join(dest, name))


def _published(root: str, batch_id: str) -> list[str]:
    """The files an earlier commit of ``batch_id`` published under
    ``root``, in any source. A batch id holds no dot, so the prefix
    names no other batch's files."""
    return [
        f
        for pattern in (f"{batch_id}.*", f".{batch_id}.*")
        for f in glob.glob(os.path.join(glob.escape(root), "source=*", pattern))
    ]


def _sources(root: str, batch_id: str) -> set[str]:
    """The ``source=<s>`` directories holding ``batch_id``'s files."""
    return {os.path.basename(os.path.dirname(f)) for f in _published(root, batch_id)}


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
    """Schema-first, like ``lake.read_lake``."""
    return spark.read.schema(CATALOG_SCHEMA).parquet(catalog_path)


def with_source(events: DataFrame, source_col: str) -> DataFrame:
    """The routing column: ``source`` = ``source_col`` as a string, with
    null and empty values sent to an explicit ``__unknown__`` quarantine
    source. Spark writes both as the Hive default partition and reads
    them back as NULL, so such rows would reach no subscriber and their
    catalog file_key (a concat with the source) would be NULL, out of
    reach of every replay. ``events`` is a staging read
    (``lake.STAGING_JSON_SCHEMA``): a row Spark flagged as malformed (a
    non-null ``lake.CORRUPT_RECORD``) is quarantined too, and the flag
    column dropped, since a line that breaks after its event_type keeps
    that value but is not an event of that source."""
    name = F.nullif(F.col(source_col).cast("string"), F.lit(""))
    name = F.when(F.col(lake.CORRUPT_RECORD).isNull(), name)
    source = F.coalesce(name, F.lit(QUARANTINE_SOURCE))
    return events.withColumn("source", source).drop(lake.CORRUPT_RECORD)


def fan_out(events: DataFrame, delivery_root: str) -> None:
    """R10/R11: per-source delivery of rows that are not already
    encoded as lake files of their own. Ingest and replay deliver by
    copying lake files; this writes only replay's selected rows from
    lake files that mix batches (compaction output). The reference
    loops SNS publishes per record (recorder:55–65); here one
    partitioned write delivers every record to its source's directory
    ``<delivery_root>/source=<s>/``, the layout of the copies, and
    subscribers read their own partition (distribution.subscribe)."""
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
    """E1 end-to-end: read the staging JSON, route each line by
    ``source_col`` and record it with ``commit_batch``."""
    raw = lake.read_json_events(spark, staging_path)
    # The commit's two jobs scan staging through this one DataFrame,
    # whose file list is fixed now: a blob landing later is read by
    # neither, with no cache. Both must parse each line alike: a scan
    # pruned to the routing columns does not flag a type mismatch in
    # another field as malformed, so the catalog would count under its
    # source a row the lake files under __unknown__. This observation
    # (lines that parsed to nothing) references every column, so
    # neither scan is pruned.
    fields = [F.col(c).isNull() for c in raw.columns if c != lake.CORRUPT_RECORD]
    raw = raw.observe("ingest_unparsed_lines", F.count_if(functools.reduce(operator.and_, fields)))
    return commit_batch(
        spark, with_source(raw, source_col), lake_path, catalog_path, delivery_root, batch_id
    )


def commit_batch(
    spark: SparkSession,
    events: DataFrame,
    lake_path: str,
    catalog_path: str,
    delivery_root: str | None,
    batch_id: str,
) -> dict[str, int]:
    """Land ``events`` (rows with a ``source``) in the lake partitioned
    by source and append their catalog entries, as two concurrent
    jobs; the delivery is a copy of the lake write's files. Nothing is
    published until both jobs have succeeded and the lake's landed
    rows equal the catalog's Σ n_records (ValueError naming both
    otherwise). Returns counts, ``n_quarantined`` being the records
    routed to the quarantine source. Raises ValueError, before any job
    or write, if ``batch_id`` does not match ``BATCH_ID``, or if
    compaction merged its earlier lake files with other batches'.

    A re-run of a ``batch_id`` (a retried micro-batch) replaces its
    whole contribution, sources it no longer has included: once its
    counts agree, the files published under its prefix are removed
    (catalog, delivery, then lake) before the new ones are published.
    It is briefly absent, never doubled or half-stale. Caveat: the
    re-run stamps a later catalog ingest_ts, so an ingest-time as-of
    read with a cutoff between the two runs shifts; version-exact time
    travel is the txlog sink's job."""
    if not BATCH_ID.fullmatch(batch_id):
        raise ValueError(f"batch_id {batch_id!r} does not match {BATCH_ID.pattern}")
    events = events.withColumn("batch_id", F.lit(batch_id))
    # every write goes to a staging directory, published in this order
    # once all have succeeded: data before metadata, the catalog (the
    # lake's snapshot log, replay.read_lake_as_of) last
    staged = {lake_path: _staged(lake_path, batch_id)}
    if delivery_root:
        staged[delivery_root] = _staged(delivery_root, batch_id)
    staged[catalog_path] = _staged(catalog_path, batch_id)
    # sources where maintenance.compact_partition merged the batch's
    # earlier lake files with other batches', so a re-run cannot find them
    merged = _sources(catalog_path, batch_id) - _sources(lake_path, batch_id)
    if merged:
        raise ValueError(
            f"batch {batch_id!r} was compacted in {sorted(merged)}; nothing was published"
        )
    # a run killed mid-commit leaves its staged files behind, and its
    # retry, under the same id, must not publish them again
    for path in staged.values():
        shutil.rmtree(path, ignore_errors=True)
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
        for root in reversed(staged):
            for f in _published(root, batch_id):
                os.remove(f)
        for root, path in staged.items():
            _publish(path, root, batch_id)
    finally:
        for path in staged.values():
            shutil.rmtree(path, ignore_errors=True)
    return {**n, "batch_id": batch_id}
