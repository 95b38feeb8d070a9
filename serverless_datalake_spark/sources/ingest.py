"""Batch ingest job: staging JSON → partitioned lake + catalog append
+ per-source delivery (reference E1, SURVEY.md §3).

One declarative job replaces the reference's five-service hop chain
(APIGW→Firehose→S3→SQS→Lambda, stack.py:177–216 → recorder:71–92):

  events.json.gz ──read──► lake (partitionBy source, sorted by ts)
                           ├──copy──► delivery root, one partition per source
                           └──footer counts──► catalog append (source, ingest_ts, file_key)

Data lands before metadata, as in the reference, where the recorder
runs only once the blob is in S3 (ObjectCreated → SQS, stack.py:58–60)
and fetches it before its catalog put and publish (recorder:86–92).
Each blob is parsed once and Parquet-encoded once: the lake write is
the commit's one Spark query, and the catalog rows and the delivery come
from the files it wrote, as the reference's recorder catalogs and
publishes from its one parse of the blob (recorder:71–92). A source's
n_records is the row count in its files' Parquet footers, and the
delivery is a byte copy of the files (recorder:55–65). Every write
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

import datetime as dt
import glob
import os
import re
import shutil
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from serverless_datalake_spark.sources import lake

CATALOG_SCHEMA = "source STRING, ingest_ts TIMESTAMP, file_key STRING, n_records BIGINT"

# the source of records whose routing value is null or empty, or malformed
QUARANTINE_SOURCE = "__unknown__"

# a batch id names a staging directory, prefixes its published files and
# ends every catalog file_key, so it holds no path separator, no dot and
# no leading '_' or '.'
BATCH_ID = re.compile(r"[A-Za-z0-9][A-Za-z0-9_-]*")


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


class CatalogEntry(NamedTuple):
    """One source's catalog row for a batch, and the name of the lake
    directory (``source=<s>`` as Spark escaped it) it is filed under."""

    partition: str
    source: str
    ingest_ts: dt.datetime
    file_key: str
    n_records: int


# a catalog file's columns; the source is its directory, as in the lake
_CATALOG_FILE = pa.schema(
    [
        ("ingest_ts", pa.timestamp("us", tz="UTC")),
        ("file_key", pa.string()),
        ("n_records", pa.int64()),
    ]
)


def build_catalog_entries(
    staged_lake: str, batch_id: str, ingest_ts: dt.datetime
) -> list[CatalogEntry]:
    """R9: one catalog row per (source, batch) — item shape mirrors
    recorder:16–31 `(Source, Timestamp, Key)` plus a record count —
    read off the lake write's own files, as the reference's recorder
    catalogs the blob it parsed once: a source per ``source=``
    directory of ``staged_lake``, n_records the Σ row counts of its
    files' Parquet footers (as replay counts its copies). ingest_ts is
    the processing time the reference takes from SQS SentTimestamp
    (recorder:77); here it's stamped per batch."""
    entries = []
    for name in sorted(os.listdir(staged_lake)):
        source = lake.source_of(name)
        if source is not None:
            files = lake.data_files(os.path.join(staged_lake, name))
            n_records = sum(pq.read_metadata(f).num_rows for f in files)
            entries.append(
                CatalogEntry(name, source, ingest_ts, f"{source}/{batch_id}.parquet", n_records)
            )
    return entries


def append_catalog(entries: list[CatalogEntry], catalog_path: str) -> None:
    """Write each entry as a one-row Parquet file
    ``<catalog_path>/<its lake directory name>/part-00000.parquet``,
    with pyarrow: a Spark write of rows built in Python would send them
    through a Python worker. ``catalog_path``, and so the catalog
    root above it, is made even for no entries: an empty batch leaves
    a catalog that reads as empty."""
    os.makedirs(catalog_path, exist_ok=True)
    for e in entries:
        os.makedirs(os.path.join(catalog_path, e.partition))
        pq.write_table(
            pa.Table.from_pylist([e._asdict()], schema=_CATALOG_FILE),
            os.path.join(catalog_path, e.partition, "part-00000.parquet"),
            store_schema=False,
        )


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
    return bool(lake.data_files(path))


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
    events = with_source(raw, source_col)
    return commit_batch(events, lake_path, catalog_path, delivery_root, batch_id)


def commit_batch(
    events: DataFrame,
    lake_path: str,
    catalog_path: str,
    delivery_root: str | None,
    batch_id: str,
) -> dict[str, int]:
    """Land ``events`` (rows with a ``source``) in the lake partitioned
    by source, the commit's one Spark query, and append a catalog entry
    per source it wrote, counted from the files' footers; the delivery
    is a copy of the lake write's files. Nothing is published until
    the write has succeeded and its landed rows (an observation of the
    write) equal the catalog's Σ n_records (ValueError naming both
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
        ingest_ts = dt.datetime.now(dt.timezone.utc)
        landed = Observation()
        lake.write_partitioned(
            events.observe(landed, F.count(F.lit(1)).alias("n_rows")), staged[lake_path]
        )
        entries = build_catalog_entries(staged[lake_path], batch_id, ingest_ts)
        n_events = sum(e.n_records for e in entries)
        # a scan with no partitions never fires the lake's observation;
        # such a write leaves no data file
        n_landed = landed.get["n_rows"] if _holds_data(staged[lake_path]) else 0
        if n_landed != n_events:
            raise ValueError(
                f"batch {batch_id!r} landed {n_landed} lake rows but its catalog "
                f"records {n_events}; nothing was published"
            )
        append_catalog(entries, staged[catalog_path])
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
    return {
        "n_events": n_events,
        "n_sources": len(entries),
        "n_quarantined": sum(e.n_records for e in entries if e.source == QUARANTINE_SOURCE),
        "batch_id": batch_id,
    }
