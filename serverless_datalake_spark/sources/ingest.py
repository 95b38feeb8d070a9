"""Batch ingest job: staging JSON → partitioned lake + catalog append
+ per-source fan-out (reference E1, SURVEY.md §3).

One declarative job replaces the reference's five-service hop chain
(APIGW→Firehose→S3→SQS→Lambda, stack.py:177–216 → recorder:71–92):

  events.json.gz ──read──► lake (partitionBy source, sorted by ts)
                      ├──► catalog append (source, ingest_ts, file_key)
                      └──► fan-out: delivery root, one partition per source

The catalog is itself a partitioned Parquet table, so the DynamoDB
(pk=Source, sk=Timestamp) query shape (stack.py:63–77) becomes
partition pruning + min/max skipping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from serverless_datalake_spark.sources import lake

CATALOG_SCHEMA = "source STRING, ingest_ts TIMESTAMP, file_key STRING, n_records BIGINT"


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
    return spark.read.parquet(catalog_path)


def with_source(events: DataFrame, source_col: str) -> DataFrame:
    """The routing column: ``source`` = ``source_col`` as a string, with
    null and empty values sent to an explicit ``__unknown__`` quarantine
    source. Spark writes both as the Hive default partition and reads
    them back as NULL, so such rows would reach no subscriber and their
    catalog file_key (a concat with the source) would be NULL, out of
    reach of every replay."""
    name = F.nullif(F.col(source_col).cast("string"), F.lit(""))
    return events.withColumn("source", F.coalesce(name, F.lit("__unknown__")))


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
    """E1 end-to-end: read staging JSON, land in the lake partitioned
    by source, append catalog entries, fan out. Returns counts."""
    raw = lake.read_json_events(spark, staging_path)
    events = with_source(raw, source_col).withColumn("batch_id", F.lit(batch_id))
    # ONE materialization feeds the lake write, the catalog aggregate
    # and the fan-out: unpersisted, each action re-read and re-parsed
    # the staging JSON, and a file landing in staging between actions
    # made lake and catalog mutually inconsistent
    events = events.persist()
    try:
        lake.write_partitioned(events, lake_path)
        # the counts come from the catalog write itself (one row per
        # source, n_records each), not from extra jobs over the batch
        counts = Observation()
        entries = build_catalog_entries(events, batch_id).observe(
            counts,
            F.coalesce(F.sum("n_records"), F.lit(0)).alias("n_events"),
            F.count(F.lit(1)).alias("n_sources"),
        )
        append_catalog(entries, catalog_path)
        if delivery_root:
            fan_out(events, delivery_root)
    finally:
        events.unpersist()
    n = counts.get
    return {"n_events": n["n_events"], "n_sources": n["n_sources"], "batch_id": batch_id}  # type: ignore[dict-item]
