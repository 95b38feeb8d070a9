"""Partitioned lake layout (reference R3/R4 → Spark native).

The reference stores gzip JSON blobs under one S3 prefix per source
(stack.py:142,144). Here the lake is a Hive-partitioned Parquet table
``.../source=<source>/part-*.parquet``:

* the per-source prefix becomes ``partitionBy("source")`` — the EQ
  half of the replay query is partition pruning (plan-time, free);
* within each file, rows are sorted by event time
  (``sortWithinPartitions``) so Parquet min/max row-group stats make
  the BETWEEN half a skipping scan — the Spark analog of DynamoDB's
  sort key (SURVEY.md §4);
* compression is a writer option (GZIP in the reference; snappy
  default here — better scan speed, similar ratio for Parquet).

The schema is part of the contract. The engine fixes the shape of its
own tables (the lake and the delivery root hold ``LAKE_SCHEMA`` rows,
the catalog ``ingest.CATALOG_SCHEMA`` rows), so it reads them with that
schema instead of inferring it: inference is a Spark job that opens a
data file's footer (one more serial GET per read on an object store),
and it fails outright on a table that has no data file yet. Of these
tables' readers only ``read_with_evolved_schema`` still reads the
footers, for lakes whose batches were written with differing schemas.
"""

from __future__ import annotations

import json as _json

import pandas as pd  # module-level: pandas-UDF hints resolve from module globals

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_JSON_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

# a lake or delivery row: the parsed event plus the two columns ingest
# adds, the routing source and the batch id
LAKE_SCHEMA = EVENTS_JSON_SCHEMA + ", source STRING, batch_id STRING"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str = "source",
    order_col: str = "ts",
    mode: str = "append",
    compression: str = "snappy",
) -> None:
    """Partitioned, sorted, compressed append — R3+R4 in one writer.

    repartitionByRange(partition_col, order_col), NOT
    repartition(partition_col): hash-repartitioning on the partition
    column alone funnels each source's entire batch through ONE task
    (a hot source serializes the write — the straggler anti-pattern
    write_day_partitioned's docstring calls out; round-7 review
    finding). Range partitioning on (source, ts) spreads a hot source
    over several tasks in contiguous ts slices at the same shuffle
    cost, and the within-partition sort keeps each output file's ts
    min/max tight for row-group skipping."""
    (
        df.repartitionByRange(partition_col, order_col)
        .sortWithinPartitions(partition_col, order_col)
        .write.mode(mode)
        .option("compression", compression)
        .partitionBy(partition_col)
        .parquet(path)
    )


def read_lake(spark: SparkSession, path: str) -> DataFrame:
    """Schema-first scan of a lake or delivery root, in either writer's
    layout (``source=`` partitions, plus ``batch_id=`` ones from the
    streaming sink); needs no job to learn the shape. A column missing
    from a file reads as NULL."""
    return spark.read.schema(LAKE_SCHEMA).parquet(path)


def read_json_events(spark: SparkSession, path: str) -> DataFrame:
    """R6/R7: scan+parse. Spark decompresses .gz transparently and
    parses JSON-lines natively — the reference's fetch+gunzip+
    `}{`-split (recorder:34–43) collapses into one schema-first read
    (we do NOT replicate the unsound `}{` rewrite; SURVEY.md §1.3)."""
    return spark.read.schema(EVENTS_JSON_SCHEMA).json(path)


def write_json_gz(df: DataFrame, path: str, partition_col: str | None = None) -> None:
    """Gzip JSON-lines sink — the reference's exact at-rest format
    (R3: Firehose GZIP blobs, stack.py:142) minus the concatenation
    quirk. Interchange/export format; the lake itself stays Parquet."""
    w = df.write.mode("overwrite").option("compression", "gzip")
    if partition_col:
        w = w.partitionBy(partition_col)
    w.json(path)


def read_with_evolved_schema(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: batches written with differing (widened)
    schemas merge into the union schema; missing columns are null.
    At 100 TB schema merge scans every file footer — acceptable for
    explicit migration reads, not the default scan path."""
    return spark.read.option("mergeSchema", True).parquet(path)


def write_csv(df: DataFrame, path: str, compression: str = "gzip") -> None:
    """CSV sink (header + explicit compression) — interchange format
    for systems that can't read Parquet; not a lake format."""
    df.write.mode("overwrite").option("header", True).option(
        "compression", compression
    ).csv(path)


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema-first CSV scan. Schema inference is disabled by design:
    at 100 TB an inference pass is a full extra read, and inferred
    types drift between files — the schema is part of the contract."""
    return spark.read.schema(schema).option("header", True).csv(path)


def parse_concatenated_json(spark: SparkSession, path: str, schema: str = EVENTS_JSON_SCHEMA) -> DataFrame:
    """SOUND reader for the reference's at-rest format: GZIP blobs of
    *concatenated* JSON objects (no delimiter — Firehose behavior,
    SURVEY.md §1.3). Object boundaries are found by an actual JSON
    scan (json.JSONDecoder.raw_decode in an Arrow-batched pandas UDF,
    one linear pass per blob), never a regex on '}{': the previous
    regex split fragmented any record whose STRING VALUE contained
    '}{' (e.g. serialized-JSON props) and the null filter then
    silently DROPPED both fragments — the reference's replace()
    corruption traded for silent data loss. Now such records parse
    intact. A malformed region RESYNCS: on a decode error the scan
    skips to the next '{' and retries, so valid objects AFTER a
    corruption point are still recovered (the previous behavior lumped
    the whole remaining line into one dropped fragment). Only the
    genuinely undecodable bytes between the error and the next
    successful decode surface as fragments that from_json nulls out
    and the guard filter drops.

    Scale shape: the decode is per-blob-line, Arrow-batched, map-only
    — the one-pass ingest cost every JSON reader pays; no shuffle."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<string>")
    def _split_objs(vals: pd.Series) -> pd.Series:
        dec = _json.JSONDecoder()
        out = []
        for s in vals:
            objs: list[str] = []
            if s:
                i, n = 0, len(s)
                while i < n:
                    while i < n and s[i].isspace():
                        i += 1
                    if i >= n:
                        break
                    try:
                        _, j = dec.raw_decode(s, i)
                    except ValueError:
                        # resync: emit the corrupt span as one fragment
                        # (nulled by from_json downstream), then retry
                        # at the next '{' — strictly advancing, so no
                        # infinite loop, and objects after the
                        # corruption point still parse
                        nxt = s.find("{", i + 1)
                        if nxt == -1:
                            objs.append(s[i:])
                            break
                        objs.append(s[i:nxt])
                        i = nxt
                        continue
                    objs.append(s[i:j])
                    i = j
            out.append(objs)
        return pd.Series(out)

    raw = spark.read.text(path)
    objs = raw.select(F.explode(_split_objs(F.col("value"))).alias("obj"))
    parsed = objs.select(F.from_json("obj", schema).alias("r")).select("r.*")
    # guard filter: drop only fragments from_json could parse NOTHING
    # from (every schema field null — the corrupt-span shape). The
    # previous event_id.isNotNull() guard also silently discarded
    # structurally VALID objects that merely lack event_id (round-7
    # review finding) — those now survive with event_id null, the
    # same contract the JSON-lines reader gives them.
    import functools
    import operator

    any_field = functools.reduce(
        operator.or_, [F.col(c).isNotNull() for c in parsed.columns]
    )
    return parsed.where(any_field)


def write_orc(df: DataFrame, path: str, partition_col: str | None = None) -> None:
    """ORC sink (zlib) — the other columnar lake format Spark reads
    and writes natively; same partitioned-layout semantics as the
    Parquet writer, for interop with ORC-based warehouses."""
    w = df.write.mode("overwrite").option("compression", "zlib")
    if partition_col:
        w = w.partitionBy(partition_col)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — predicate pushdown and vectorized read are on by
    default (spark.sql.orc.filterPushdown / impl=native)."""
    return spark.read.orc(path)


def write_day_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    mode: str = "append",
) -> None:
    """Time-series lake layout: a GENERATED partition column
    ``day = date(ts)`` (the Delta generated-column pattern) so that
    time-range scans prune whole days at plan time, while row-group
    min/max stats on the sorted ts handle the intra-day remainder —
    the (source-EQ, ts-BETWEEN) idea rotated onto the time axis.
    At 100 TB daily partitions keep file counts sane where hourly
    would explode the metadata; the sort makes hours skippable
    anyway. The shuffle is repartitionByRange(day, ts) — NOT
    repartition("day"), which hashes each day onto a SINGLE task
    (one straggler core writing ~a day of data, one giant file per
    day); range partitioning spreads a day across tasks in contiguous
    ts slices, so every output file still covers a tight, skippable
    ts range inside its day directory."""
    (
        df.withColumn("day", F.to_date(F.col(ts_col)))
        .repartitionByRange(32, F.col("day"), F.col(ts_col))
        .sortWithinPartitions("day", ts_col)
        .write.mode(mode)
        .partitionBy("day")
        .parquet(path)
    )


def read_day_range(
    spark: SparkSession, path: str, start_day: str, end_day: str
) -> DataFrame:
    """Day-range read over the write_day_partitioned layout; the
    between lands on the partition column → plan-time pruning."""
    return spark.read.parquet(path).where(
        (F.col("day") >= start_day) & (F.col("day") <= end_day)
    )
