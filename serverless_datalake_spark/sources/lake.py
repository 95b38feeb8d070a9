"""Partitioned lake layout (reference R3/R4 → Spark native).

The reference stores gzip JSON blobs under one S3 prefix per source
(stack.py:142,144). Here the lake is a Hive-partitioned Parquet table
``.../source=<source>/<batch_id>.part-*.parquet``, written by
``ingest.commit_batch`` for batch and streaming ingest alike:

* the per-source prefix becomes ``partitionBy("source")`` — the EQ
  half of the replay query is partition pruning (plan-time, free);
* within each file, rows are sorted by event time
  (``sortWithinPartitions``) so Parquet min/max row-group stats make
  the BETWEEN half a skipping scan — the Spark analog of DynamoDB's
  sort key (SURVEY.md §4);
* the files are snappy-compressed (GZIP in the reference; snappy
  scans faster at a similar ratio for Parquet).

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
import os
import re
from decimal import Decimal

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

# a staging read's copy of each line Spark could not parse in full
CORRUPT_RECORD = "_corrupt_record"
STAGING_JSON_SCHEMA = f"{EVENTS_JSON_SCHEMA}, {CORRUPT_RECORD} STRING"


def write_partitioned(df: DataFrame, path: str) -> None:
    """Partitioned, sorted, snappy-compressed append — R3+R4 in one
    writer: ``partitionBy("source")``, each file sorted on ``ts``.

    A REBALANCE on ``source``, NOT repartition("source") and NOT
    repartitionByRange("source", "ts").
    Range partitioning first runs a sampling job over the input to
    find its bounds: over an uncached input, such as ingest's parse of
    a staging blob, that is a second parse. REBALANCE needs no sample.
    AQE coalesces its small shuffle partitions, so the file count stays
    bounded, and splits one above the advisory size across several
    tasks by map output, which repartition("source"), hashing a
    source's whole batch to one task, cannot. For a small batch the
    coalescing goes all the way: a 68,000-line staging blob (1.4 MB of
    gzip) is written by ONE reduce task at local[4], which writes
    every source's file in turn, so a hot source is no straggler only
    because the whole write is one (ROADMAP: per-source write tasks).
    A write with no shuffle at all would skip the exchange too, but
    writes one file per (input partition, source): a small-file cliff
    for multi-file inputs. The within-partition sort keeps each output
    file's ts min/max tight for row-group skipping."""
    (
        df.hint("rebalance", "source")
        .sortWithinPartitions("source", "ts")
        .write.mode("append")
        .option("compression", "snappy")
        .partitionBy("source")
        .parquet(path)
    )


def read_lake(spark: SparkSession, path: str) -> DataFrame:
    """Schema-first scan of a lake or delivery root; needs no job to
    learn the shape. A column missing from a file reads as NULL."""
    return spark.read.schema(LAKE_SCHEMA).parquet(path)


# a byte Spark escaped in a partition directory name (``ads/click`` →
# ``source=ads%2Fclick``)
_ESCAPED = re.compile(r"%([0-9A-Fa-f]{2})")


def source_of(name: str) -> str | None:
    """The source Spark reads from a ``source=`` directory name, None
    for any other name. Spark escapes a partition value on write and
    unescapes each ``%XX`` on read (distribution's module docstring);
    this is that one unescaping rule."""
    if not name.startswith("source="):
        return None
    return _ESCAPED.sub(lambda m: chr(int(m[1], 16)), name[len("source=") :])


def source_dirs(root: str, source: str) -> list[str]:
    """The ``source=`` directories of ``root`` that Spark reads as
    ``source``, found by listing the root and unescaping the names
    (``source_of``), never by building a path from the name."""
    if not os.path.isdir(root):
        return []
    with os.scandir(root) as entries:
        return sorted(e.path for e in entries if e.is_dir() and source_of(e.name) == source)


def data_files(directory: str) -> list[str]:
    """The files Spark's listing reads under ``directory``, nested
    partition directories included: it skips names that start with '_'
    or '.' (staging directories, markers, checksums)."""
    out = []
    for base, dirs, names in os.walk(directory):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [os.path.join(base, n) for n in names if not n.startswith(("_", "."))]
    return sorted(out)


def column_range(footer, col: str):
    """``(min, max, has_nulls)`` of column ``col`` over every row group
    of a Parquet footer (``pyarrow.parquet.FileMetaData``), else None:
    for a file with no row groups, no leaf named ``col``, or a row
    group whose statistics lack min/max. The one reader of footer
    statistics (the txlog's zone maps, replay's batch classifier).

    The column is found by its LEAF path, not its Arrow field index: a
    struct or array column before it makes the two numberings diverge,
    and the wrong column's range would prune files that hold matching
    rows. Spark writes a precision <= 18 decimal as INT32/INT64 (larger
    ones as FIXED_LEN_BYTE_ARRAY), where pyarrow's ``min``/``max``
    raise; those are decoded from the raw unscaled values. A row group
    without a null count counts as holding nulls."""
    leaves = {footer.schema.column(i).path: i for i in range(footer.num_columns)}
    ci = leaves.get(col)
    if ci is None or footer.num_row_groups == 0:
        return None
    sch_col = footer.schema.column(ci)
    lo = hi = None
    has_nulls = False
    for g in range(footer.num_row_groups):
        st = footer.row_group(g).column(ci).statistics
        if st is None or not st.has_min_max:
            return None
        try:
            mn, mx = st.min, st.max
        except NotImplementedError:
            lt = sch_col.logical_type
            if lt is None or lt.type != "DECIMAL":
                return None

            def dec(raw):
                unscaled = (
                    int.from_bytes(bytes(raw), "big", signed=True)
                    if isinstance(raw, (bytes, bytearray))
                    else int(raw)
                )
                return Decimal(unscaled).scaleb(-sch_col.scale)

            mn, mx = dec(st.min_raw), dec(st.max_raw)
        lo = mn if lo is None or mn < lo else lo
        hi = mx if hi is None or mx > hi else hi
        has_nulls = has_nulls or not st.has_null_count or st.null_count > 0
    return lo, hi, has_nulls


def read_json_events(spark: SparkSession, path: str) -> DataFrame:
    """R6/R7: scan+parse. Spark decompresses .gz transparently and
    parses JSON-lines natively — the reference's fetch+gunzip+
    `}{`-split (recorder:34–43) collapses into one schema-first read
    (we do NOT replicate the unsound `}{` rewrite; SURVEY.md §1.3).
    A malformed line is a row of the fields that did parse, plus the
    line in ``CORRUPT_RECORD`` (flagged only by the fields a scan reads)."""
    return spark.read.schema(STAGING_JSON_SCHEMA).json(path)


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
    one linear pass per blob), never a regex on '}{', which fragments
    any record whose STRING VALUE contains '}{' (e.g. serialized-JSON
    props). A malformed region RESYNCS: on a decode error the scan
    skips to the next '{' and retries, so valid objects AFTER a
    corruption point are still recovered. Only the
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
    # from (every schema field null — the corrupt-span shape); a valid
    # object that lacks event_id survives with event_id null, the same
    # contract the JSON-lines reader gives them.
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
