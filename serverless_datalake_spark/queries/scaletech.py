"""Scale-technique demonstrations with semantics-preserving oracles:
runtime Bloom prefiltering of a fact/dim join, and lossless ORC / CSV
round-trips through the lake's sink+source pair.

The Bloom query's oracle is deliberately the PLAIN three-way join:
Bloom filters have no false negatives, the downstream exact join
removes the false positives, so result equality IS the proof that the
prefilter is semantics-preserving — the same argument Spark's own
`spark.sql.optimizer.runtime.bloomFilter.enabled` rewrite relies on.
This operator makes the technique explicit (and deterministic) where
the optimizer's cost model may decline to inject it.

The round-trip queries' oracles read the original parquet: equality
proves the non-parquet sink+source pair is lossless for the column
types exercised (ints, doubles, strings with embedded quotes).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from serverless_datalake_spark.queries import query
from serverless_datalake_spark.tables import load_table

_BPK = 8   # bloom bits per key (undersized vs production ~10; FP rate
_K = 5     # only costs prefilter selectivity, never correctness)


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
                    AS BIGINT)) AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1
    """,
    tags=("join", "bloom", "runtime-filter"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side runtime Bloom filter: qualifying order keys (BUILDING
    customers' orders) build a Kirsch–Mitzenmacher double-hash Bloom
    bitset that prefilters lineitem BEFORE the join; the exact join
    then removes Bloom false positives, so the result equals the plain
    join (the oracle) by construction.

    Scale shape: the bitset is ONE 1-row broadcast relation (64-bit
    packed words) built from the key side with a hash aggregate — at
    production sizing ~10 bits/key, a 100M-key dim is a ~125 MB
    bitset, broadcast once; membership is O(1) per probe (word fetch +
    bit mask). The fact scan then drops non-matching rows
    MAP-SIDE — before the join shuffle — which is the whole point: at
    100 TB the shuffle of non-qualifying fact rows, not the join CPU,
    is the bottleneck a runtime filter exists to kill. Join sides that
    survive are broadcast (dim) / hash (fact) as usual.

    Cites: reference event_replayer selects by key predicate before
    re-reading payloads (lambda_function.py:19–39) — the same
    filter-early discipline, here pushed below a join."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    # NOT pinned: the qualifying-orders subtree feeds both the bitset
    # build and the final broadcast join, but Spark already shares the
    # work via ReusedExchange — an explicit localCheckpoint was
    # measured SLOWER at sf0.1 (2.58 vs 2.32 s min-of-3: the
    # materialization write exceeds the saved rescan)
    qorders = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderpriority")
    )
    # NOT pinned either (round-9 optimization A/B): the distinct's
    # exchange is identical across the sizing/word/bitmap consumers,
    # so AQE's ReusedExchange already shares it — pinning keys
    # measured 2.30 -> 2.62 s at sf0.1, the same verdict as the
    # qorders note above.
    keys = qorders.select("o_orderkey").distinct()
    mm = keys.agg((F.lit(_BPK) * F.count(F.lit(1))).cast("long").alias("m"))

    # xxhash64 (native, no string conversion — ~10× cheaper per probe
    # than the md5 family) is fine HERE because the oracle is the plain
    # join: the Bloom hash family never has to be recomputed by DuckDB,
    # only to be no-false-negative, which any fixed hash is. Reduce to
    # 31-bit values so (h1 + i·h2) stays overflow-free under ANSI.
    def h1(c: Column) -> Column:
        return F.pmod(F.xxhash64(c), F.lit(2147483648).cast("long"))

    def h2(c: Column) -> Column:
        return F.pmod(F.xxhash64(c, F.lit(7)), F.lit(2147483647).cast("long")) + 1

    def probe_positions(c: Column) -> Column:
        a, b = h1(c), h2(c)
        return F.transform(
            F.sequence(F.lit(0), F.lit(_K - 1)), lambda i: (a + i * b) % F.col("m")
        )

    # Pack set bits into 64-bit words (a REAL bitset, m/64 longs —
    # ~2 MB per 100M-key dim at 10 bits/key word-packed, not a list of
    # positions: per-row membership must be O(1) element_at + bit
    # test, never a set-rebuild against a position array).
    words = (
        keys.crossJoin(F.broadcast(mm))
        .select(F.explode(probe_positions(F.col("o_orderkey"))).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("long").alias("wi"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("wi")
        .agg(F.bit_or("bit").alias("w"))
    )
    bitmap = (
        words.crossJoin(F.broadcast(mm))
        .groupBy("m")
        .agg(F.map_from_entries(F.collect_list(F.struct("wi", "w"))).alias("wm"))
        .select(
            "m",
            F.transform(
                F.sequence(F.lit(0).cast("long"), ((F.col("m") - 1) / 64).cast("long")),
                lambda i: F.coalesce(F.element_at(F.col("wm"), i), F.lit(0).cast("long")),
            ).alias("bits"),
        )
    )

    def member(c: Column) -> Column:
        a, b = h1(c), h2(c)

        def bit_set(i):
            p = (a + F.lit(i) * b) % F.col("m")
            word = F.element_at(F.col("bits"), (p / 64).cast("int") + 1)
            return word.bitwiseAND(
                F.call_function("shiftleft", F.lit(1).cast("long"), (p % 64).cast("int"))
            ) != 0

        cond = bit_set(0)
        for i in range(1, _K):
            cond = cond & bit_set(i)
        return cond

    li = load_table(spark, sf_dir, "lineitem")
    prefiltered = li.crossJoin(F.broadcast(bitmap)).where(member(F.col("l_orderkey")))
    joined = prefiltered.join(
        F.broadcast(qorders), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 10000, 0
            ).cast("long")
        )
        .cast("long")
        .alias("revenue_e4"),
    )


def _scratch(name: str) -> str:
    """Mint a scratch path in the system temp dir and register it for
    removal at interpreter exit. Every scratch path carries the PID so
    two concurrent runs on the same host (parallel pytest + bench)
    never race overwrite-writes against each other's read-backs, and
    the atexit sweep keeps repeated runs from accumulating temp dirs."""
    d = os.path.join(tempfile.gettempdir(), f"{name}_{os.getpid()}")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _roundtrip_dir(fmt: str, sf_dir: str) -> str:
    # Stable within a process (the bench's 3 timed runs reuse one dir
    # and pay the write each time, as intended) but disjoint across
    # processes via the PID component.
    tag = os.path.basename(os.path.normpath(sf_dir))
    return _scratch(f"sdlspark_rt_{fmt}_{tag}")


@query(
    "scan_orc_roundtrip",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(SUM(l_linenumber) AS BIGINT) AS sum_lineno
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY 1
    """,
    tags=("source", "sink", "orc"),
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source parity: write the filtered fact slice to ORC,
    read it back, aggregate — the oracle computes the same aggregate
    from the ORIGINAL parquet, so equality proves the ORC round-trip
    is lossless for bigint/int/double/varchar columns.

    Scale shape: the write is partition-parallel (one ORC file per
    task, snappy), the read-back scan pushes the aggregate's column
    pruning into the ORC reader exactly as parquet does (ORC carries
    the same min/max stripe stats); quantity sums are integral doubles
    (exact, order-independent)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    sel = li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"
    )
    path = _roundtrip_dir("orc", sf_dir)
    sel.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.sum("l_linenumber").cast("long").alias("sum_lineno"),
    )


@query(
    "scan_csv_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(length(props)) AS BIGINT) AS props_chars,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events
    GROUP BY 1
    """,
    tags=("source", "sink", "csv"),
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source parity with hostile content: the props column
    is JSON (embedded double quotes, braces, spaces), so the write
    must quote and escape and the read must undo both bit-exactly; the
    oracle aggregates the ORIGINAL parquet. Explicit schema on
    read-back — schema inference on CSV is both a correctness and a
    performance anti-pattern at scale (it runs an extra full scan).

    Scale shape: header-per-file partition-parallel write, schema'd
    read, aggregate with map-side partials; length sums are exact
    integers. (The reference's Firehose→S3 lake stores line-delimited
    text the same way; sources/lake.py is the gzip-JSON twin.)"""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "props")
    path = _roundtrip_dir("csv", sf_dir)
    (
        ev.write.mode("overwrite")
        .options(header=True, quote='"', escape="\\")
        .csv(path)
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("props", T.StringType()),
        ]
    )
    back = spark.read.options(header=True, quote='"', escape="\\").schema(schema).csv(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.length("props")).cast("long").alias("props_chars"),
        F.max("event_id").cast("long").alias("max_event_id"),
    )


@query(
    "scan_python_datasource",
    oracle="""
    WITH src AS (
      SELECT range AS id, range * range AS sq, CAST(range % 4 AS INTEGER) AS part
      FROM range(1000)
    )
    SELECT part,
           COUNT(*) AS n_rows,
           CAST(SUM(sq) AS BIGINT) AS sum_sq,
           CAST(MAX(id) AS BIGINT) AS max_id
    FROM src GROUP BY 1
    """,
    tags=("source", "python-datasource"),
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API: a custom batch source registered
    with spark.dataSource.register and read via spark.read.format —
    the extension point for feeds Spark has no built-in connector for
    (internal REST paginators, bespoke binary logs, queue snapshots).
    The source declares 4 InputPartitions, so the read is
    partition-parallel exactly like a file scan; each partition
    generates its id-slice deterministically (id ≡ part mod 4), and
    the oracle recomputes the same rows from a range relation.

    Scale shape: partitions() is the parallelism contract — a
    production connector returns one InputPartition per shard/page
    range so 1000 executors pull 1000 disjoint slices; all arithmetic
    here is integer-exact. (The reference's ingest endpoint plays this
    'external feed' role — SURVEY §2a R1; this shows the Spark-native
    way to mount one as a first-class table.)"""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class RangeSquaresSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "range_squares"

        def schema(self) -> str:
            return "id BIGINT, sq BIGINT, part INT"

        def reader(self, schema):
            n = int(self.options.get("n", "1000"))
            parts = int(self.options.get("parts", "4"))

            class Reader(DataSourceReader):
                def partitions(self):
                    return [InputPartition(p) for p in range(parts)]

                def read(self, partition):
                    p = partition.value
                    for i in range(p, n, parts):
                        yield (i, i * i, p)

            return Reader()

    spark.dataSource.register(RangeSquaresSource)
    df = (
        spark.read.format("range_squares")
        .option("n", "1000")
        .option("parts", "4")
        .load()
    )
    return df.groupBy("part").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("sq").cast("long").alias("sum_sq"),
        F.max("id").cast("long").alias("max_id"),
    )


@query(
    "txlog_time_travel",
    oracle="""
    WITH o0 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
    ), o1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 1
    ), up AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM o0
    )
    SELECT 'v0' AS snapshot, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM o0
    UNION ALL
    SELECT 'v1', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT)
    FROM (SELECT * FROM o0 UNION ALL SELECT * FROM o1)
    UNION ALL
    SELECT 'v2', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT)
    FROM (SELECT * FROM o1 UNION ALL SELECT * FROM up)
    UNION ALL
    SELECT 'cdc_insert', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT)
    FROM up
    UNION ALL
    SELECT 'cdc_delete', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT)
    FROM o0
    """,
    tags=("lakehouse", "txlog", "time-travel"),
)
def txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log time travel + change feed, driver-checkable
    end-to-end: build a fresh txlog table (sources/txlog.py — the
    repo's Delta-style commit protocol on plain parquet) with three
    commits (append v0, append v1, copy-on-write MERGE v2 doubling
    v0's prices), then read every snapshot BY VERSION plus the v1→v2
    change feed. The oracle recomputes each snapshot's aggregate from
    the source relation — equality proves snapshot isolation (v0/v1
    unchanged after the merge), atomic multi-file visibility, and CDC
    multiset semantics (updates appear as delete+insert pairs).

    Scale shape: every snapshot read lists files from the log (no
    directory scans), so time travel costs one metadata pass; the
    merge rewrite is the copy-on-write path whose file-pruned twin is
    documented in txlog_upsert's docstring. Aggregates use integer cents (the
    agg_pricing_summary discipline); ×2 is exact in IEEE."""
    import uuid as _uuid

    from serverless_datalake_spark.sources.txlog import (
        txlog_changes,
        txlog_read,
        txlog_upsert,
        txlog_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = _scratch(f"sdlspark_tt_{_uuid.uuid4().hex[:12]}")
    v0 = txlog_write(o.where(F.col("o_orderkey") % 3 == 0), path)
    v1 = txlog_write(o.where(F.col("o_orderkey") % 3 == 1), path)
    updates = o.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    v2 = txlog_upsert(spark, path, updates, key="o_orderkey")

    cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")

    def snap(label: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(label).alias("snapshot"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents).cast("long").alias("cents"),
        ).select("snapshot", "n_rows", "cents")

    cdc = txlog_changes(spark, path, from_version=v1, to_version=v2)
    parts = [
        snap("v0", txlog_read(spark, path, v0)),
        snap("v1", txlog_read(spark, path, v1)),
        snap("v2", txlog_read(spark, path, v2)),
        snap("cdc_insert", cdc.where(F.col("op") == "insert")),
        snap("cdc_delete", cdc.where(F.col("op") == "delete")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "matview_incremental_refresh",
    oracle="""
    WITH s1 AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 4 = 0
    ), s2 AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 4 = 1
    ), both_s AS (
      SELECT * FROM s1 UNION ALL SELECT * FROM s2
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_units
    FROM both_s GROUP BY 1
    """,
    tags=("lakehouse", "matview", "incremental"),
)
def matview_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, driver-checkable:
    build an aggregate view over a txlog table's first commit, append
    a second commit, then INCREMENTALLY refresh (sources/matview.py
    reads only the file-level delta between the stamped and head
    source versions, aggregates it with +1 weights, merges group-wise)
    and return the refreshed view. The oracle aggregates BOTH source
    slices from scratch — equality proves refreshed == rebuilt, the
    defining invariant of incremental view maintenance.

    Scale shape: refresh cost is O(delta files), not O(table) — the
    reference's catalog-append (R9, event_recorder writing the index
    row per landed object) generalized to arbitrary group-by views;
    merge shuffles only group-key-sized relations. Integer-cents units
    make the ±1-weighted merge exact under any partitioning."""
    import uuid as _uuid

    from serverless_datalake_spark.sources.matview import mv_build, mv_refresh
    from serverless_datalake_spark.sources.txlog import txlog_read, txlog_write

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    base = _scratch(f"sdlspark_mv_{_uuid.uuid4().hex[:12]}")
    src, mv = os.path.join(base, "src"), os.path.join(base, "mv")
    unit = F.round(F.col("o_totalprice") * 100.0, 0)
    txlog_write(o.where(F.col("o_orderkey") % 4 == 0), src)
    mv_build(spark, src, mv, keys=["o_orderpriority"], unit=unit)
    txlog_write(o.where(F.col("o_orderkey") % 4 == 1), src)
    mv_refresh(spark, src, mv, keys=["o_orderpriority"], unit=unit)
    return txlog_read(spark, mv).select("o_orderpriority", "n_rows", "sum_units")


_GEO_CELL = 0.05
_GEO_R = 0.03  # radius ≤ cell size ⇒ the 3×3 neighborhood is complete


@query(
    "geo_grid_join",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id AS id,
             CAST(embedding[1] AS DOUBLE) AS px,
             CAST(embedding[2] AS DOUBLE) AS py
      FROM embeddings
    )
    SELECT a.id AS a, b.id AS b,
           ROUND(SQRT((a.px - b.px) * (a.px - b.px)
                      + (a.py - b.py) * (a.py - b.py)), 6) AS dist
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)
          <= {_GEO_R} * {_GEO_R}
    """,
    tags=("join", "spatial", "grid"),
)
def geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-binned spatial radius join: all point pairs within r of
    each other, found by hashing points to √-cells of size ≥ r and
    joining each point's 3×3 cell NEIGHBORHOOD against cell occupants
    — the standard spatial-join rewrite that turns an all-pairs
    distance predicate into an equi-join (geohash/H3/S2 cells at
    production; plain floor-grid here). The oracle is the NAIVE
    all-pairs distance join, so equality proves the neighborhood
    expansion loses no boundary-straddling pair — the correctness
    claim that matters for grid joins.

    Scale shape: 9 bucket keys per point on one side, one on the
    other; the join shuffles on cell id, so co-located points meet on
    one executor and the candidate set is bounded by local density ×9
    instead of n². Exact-distance verify runs only on candidates.
    Fixture coordinates are two embedding dims (floats → exact
    doubles)."""
    em = load_table(spark, sf_dir, "embeddings")
    pts = em.select(
        F.col("vec_id").alias("id"),
        F.element_at(F.col("embedding"), 1).cast("double").alias("px"),
        F.element_at(F.col("embedding"), 2).cast("double").alias("py"),
    ).select(
        "*",
        F.floor(F.col("px") / _GEO_CELL).cast("long").alias("cx"),
        F.floor(F.col("py") / _GEO_CELL).cast("long").alias("cy"),
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    probe = pts.select(
        F.col("id").alias("a"),
        F.col("px").alias("ax"),
        F.col("py").alias("ay"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("gx"), (F.col("cy") + dy).alias("gy")
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("g"),
    ).select("a", "ax", "ay", F.col("g.gx").alias("gx"), F.col("g.gy").alias("gy"))
    build = pts.select(
        F.col("id").alias("b"),
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        F.col("cx").alias("gx"),
        F.col("cy").alias("gy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        probe.join(build, ["gx", "gy"])
        .where((F.col("a") < F.col("b")) & (d2 <= F.lit(_GEO_R * _GEO_R)))
        .select("a", "b", F.round(F.sqrt(d2), 6).alias("dist"))
    )


@query(
    "sql_ddl_insert_select",
    oracle="""
    WITH src AS (
      SELECT o_orderpriority, o_orderstatus,
             CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus <> 'P'
    )
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM src GROUP BY 1, 2
    """,
    tags=("sql", "ddl", "catalog"),
)
def sql_ddl_insert_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog DDL path: CREATE TABLE ... USING PARQUET
    PARTITIONED BY, INSERT INTO ... SELECT, then query the catalog
    table — the managed-table surface (spark_catalog + warehouse dir)
    as opposed to the path-based reads every other query uses. The
    oracle recomputes from the source relation, proving the
    DDL+DML round-trip is lossless and partition-complete.

    Scale shape: INSERT INTO a partitioned table is the same
    partition-parallel parquet write as the path API plus a catalog
    commit; reading back prunes on the partition column exactly like
    the path-based layout (R4). Unique table name per call keeps the
    shared-session catalog clean (DROP at the end)."""
    import uuid as _uuid

    from serverless_datalake_spark.tables import register_views

    register_views(spark, sf_dir, only=("orders",))
    tbl = f"ddl_rt_{_uuid.uuid4().hex[:10]}"
    loc = _scratch(f"sdlspark_ddl_{tbl}")
    spark.sql(
        f"""
        CREATE TABLE {tbl} (
          o_orderpriority STRING, cents BIGINT, o_orderstatus STRING
        ) USING PARQUET PARTITIONED BY (o_orderstatus)
        LOCATION '{loc}'
        """
    )
    spark.sql(
        f"""
        INSERT INTO {tbl} PARTITION (o_orderstatus)
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents,
               o_orderstatus
        FROM orders WHERE o_orderstatus <> 'P'
        """
    )
    out = spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM {tbl} GROUP BY o_orderpriority, o_orderstatus
        """
    )
    rows = out.collect()  # materialize before DROP removes the files
    spark.sql(f"DROP TABLE {tbl}")
    return spark.createDataFrame(rows, out.schema)


@query(
    "scan_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_open
    FROM orders WHERE o_orderkey % 3 = 0
    """,
    tags=("observability", "metrics"),
)
def scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.observe — Spark's OBSERVABLE METRICS channel: named
    aggregates ride along with a query (at zero extra passes; the
    accumulators update as rows stream by) and surface to listeners —
    the mechanism production pipelines use for row-count/quality
    telemetry without a second scan. Here the observed values are
    returned AS the result so the oracle can check the channel
    delivers exactly what a direct aggregate computes.

    Scale: the observation is free (piggybacked accumulators); in
    streaming the same API feeds per-batch metrics to
    StreamingQueryListener — the monitoring story for the ingest
    pipeline (R2/R9)."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 3 == 0)
    obs = Observation("card")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("cents"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .cast("long")
        .alias("n_open"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one pass fills obs
    row = obs.get
    return spark.createDataFrame(
        [(row["n_rows"], row["cents"], row["n_open"])],
        "n_rows bigint, cents bigint, n_open bigint",
    )


@query(
    "lake_schema_drift_report",
    oracle="""
    WITH legacy AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 2 = 0
    ), widened AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents,
             o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT CAST((SELECT COUNT(*) FROM legacy) + (SELECT COUNT(*) FROM widened)
                AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM widened) AS BIGINT) AS n_with_priority,
           CAST((SELECT COUNT(*) FROM legacy) AS BIGINT) AS n_legacy_null,
           CAST((SELECT SUM(cents) FROM legacy) + (SELECT SUM(cents) FROM widened)
                AS BIGINT) AS cents
    """,
    tags=("lakehouse", "schema-evolution"),
)
def lake_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution through the transaction log,
    driver-checkable: commit a legacy-schema batch, then a WIDENED
    batch (new o_orderpriority column), read the whole table with
    schema merging (txlog_read merge_schema — Delta/Iceberg ADD
    COLUMN semantics: legacy files surface NULL for the new column),
    and report the drift profile (rows carrying vs missing the new
    field). The oracle recomputes from the source slices.

    Scale shape: merge_schema costs one footer-union metadata pass;
    the report is one aggregate. At 100 TB, additive evolution is THE
    schema-change mechanism — rewriting history for a new column is
    off the table, which is exactly what this read path avoids."""
    import uuid as _uuid

    from serverless_datalake_spark.sources.txlog import txlog_read, txlog_write

    o = load_table(spark, sf_dir, "orders")
    path = _scratch(f"sdlspark_drift_{_uuid.uuid4().hex[:12]}")
    legacy = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100.0, 0).cast("long").alias("cents"),
    )
    widened = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100.0, 0).cast("long").alias("cents"),
        "o_orderpriority",
    )
    txlog_write(legacy, path)
    txlog_write(widened, path)
    merged = txlog_read(spark, path, merge_schema=True)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderpriority").cast("long").alias("n_with_priority"),
        F.sum(F.col("o_orderpriority").isNull().cast("long"))
        .cast("long")
        .alias("n_legacy_null"),
        F.sum("cents").cast("long").alias("cents"),
    )


@query(
    "scan_binary_files",
    oracle="""
    SELECT 'region_' || CAST(r_regionkey AS VARCHAR) || '.bin' AS file_name,
           CAST(length(r_name) + length(CAST(r_regionkey AS VARCHAR)) + 1 AS BIGINT)
             AS n_bytes,
           sha256(lower(hex(encode(r_name || ':' || CAST(r_regionkey AS VARCHAR)))))
             AS content_sha256
    FROM region
    """,
    tags=("source", "binary-files"),
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `binaryFile` source: whole files as rows (path, length, raw
    bytes) — the ingest path for OPAQUE assets (images, audio, model
    checkpoints) that no record format parses; the multimodal lake's
    front door (mm_binary_metadata consumes exactly this shape). The
    query materializes one deterministic binary asset per region row,
    reads the directory back through binaryFile, and fingerprints the
    bytes; the oracle computes the expected name/size/hash from the
    region RELATION — equality proves byte-faithful whole-file reads
    (hashes go through lowercased hex to neutralize the engines'
    hex-case difference).

    Scale shape: one row per file, one task per file (binaryFile
    parallelizes the listing; pathGlobFilter scopes it); at 100 TB of
    media you bucket files by size so tasks balance, then hand
    `content` to the mapInPandas decode stage."""
    import uuid as _uuid

    rows = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name").collect()
    d = _scratch(f"sdlspark_bin_{_uuid.uuid4().hex[:12]}")
    os.makedirs(d, exist_ok=True)
    # tiny dimension-sized artifact write (the codebook-collect
    # precedent): one asset per region row, content = name:key bytes
    for r in rows:
        with open(os.path.join(d, f"region_{r['r_regionkey']}.bin"), "wb") as fh:
            fh.write(f"{r['r_name']}:{r['r_regionkey']}".encode("utf-8"))
    df = spark.read.format("binaryFile").load(d)
    return df.select(
        F.regexp_replace(F.col("path"), "^.*/", "").alias("file_name"),
        F.col("length").cast("long").alias("n_bytes"),
        F.sha2(F.lower(F.hex(F.col("content"))), 256).alias("content_sha256"),
    )


@query(
    "txlog_partition_prune",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    WHERE event_type IN ('purchase', 'signup') AND event_id % 2 = 0
    GROUP BY 1
    """,
    tags=("txlog", "partition-pruning", "evolution"),
)
def txlog_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-based data skipping ACROSS a partition-layout change: the
    table's first commit predates partition values (legacy layout — no
    per-file metadata), the second commit records each file's
    event_type value v in the log as the zone map [v, v]
    (txlog_write_partitioned). The read prunes the FILE LIST from the
    log — legacy files are always read (unprunable but correct), the
    others only when their value matches — which is Iceberg
    partition-evolution semantics: old files stay readable under the
    new spec, new files skip. The
    residual predicate then enforces exact semantics, so result
    equality against the plain filtered scan (the oracle) proves the
    prune is a sound superset while tests/test_txlog.py asserts it
    actually skips files.

    Scale shape: pruning happens at METADATA grain (the log replay) —
    no data file is opened to decide; at 100 TB the log's zone maps
    are the manifest an object-store reader scans instead of
    listing directories."""
    import uuid as _uuid

    from serverless_datalake_spark.sources.txlog import (
        txlog_read_pruned,
        txlog_write,
        txlog_write_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    path = _scratch(f"sdlspark_pp_{_uuid.uuid4().hex[:12]}")
    # generation 1: pre-evolution commit, odd event_ids, NO zone maps
    txlog_write(ev.where(F.col("event_id") % 2 == 1), path)
    # generation 2: per-type files with [v, v] zone maps, even event_ids
    txlog_write_partitioned(ev.where(F.col("event_id") % 2 == 0), path, "event_type")
    pruned = txlog_read_pruned(spark, path, "event_type", ["purchase", "signup"])
    return (
        pruned.where(
            F.col("event_type").isin("purchase", "signup") & (F.col("event_id") % 2 == 0)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
    )


@query(
    "scan_xml_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_chars,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events
    GROUP BY event_type
    """,
    tags=("scan", "format", "xml"),
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML sink + source (Spark 4 built-in, no spark-xml jar):
    rowTag-framed write then schema'd read-back, with the JSON props
    column as hostile content — braces, double quotes, and spaces must
    survive XML entity escaping bit-exactly (the oracle aggregates the
    ORIGINAL parquet, so any escaping loss breaks parity). Explicit
    schema on read for the same reason as the CSV twin: XML inference
    costs an extra full scan and can mistype sparse fields.

    Scale shape: partition-parallel rowTag framing on write; the
    read is a streaming StAX parse per file — no DOM, so memory is
    row-bounded; aggregates with map-side partials."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "props"
    )
    path = _roundtrip_dir("xml", sf_dir)
    ev.write.mode("overwrite").format("xml").option("rowTag", "event").save(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("props", T.StringType()),
        ]
    )
    back = (
        spark.read.format("xml").option("rowTag", "event").schema(schema).load(path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.length("props")).cast("long").alias("props_chars"),
        F.max("event_id").cast("long").alias("max_event_id"),
    )


@query(
    "join_dpp_runtime_prune",
    oracle="""
    WITH dim AS (
      SELECT event_type FROM events
      GROUP BY event_type HAVING AVG(value) > 50.0
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 1000.0, 0) AS BIGINT)) AS BIGINT)
             AS value_milli
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY e.event_type
    """,
    tags=("join", "partition-pruning", "dpp"),
)
def join_dpp_runtime_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact side is an event_type-
    partitioned at-rest table; the dim side qualifies types by a
    predicate on a NON-key column (AVG(value) > 50), so no static
    filter on the partition key exists at plan time — the fact scan's
    partition list can only be pruned at RUNTIME from the dim's
    broadcast result (PartitionFilters gains a
    dynamicpruningexpression; pinned in tests/test_plans.py). The
    star-join mechanism that lets a 100 TB fact table read only the
    partitions a filtered dimension touches — without it this plan
    scans every partition and throws rows away post-join.

    Exactness: value sums as exact milli-unit integers; the dim
    qualification compares per-group AVG (identical expression both
    engines) against a literal.

    Scale shape: ONE partitioned write (per process, scratch dir),
    runtime-pruned fact scan, broadcast dim, partial-agg shuffle.
    At 100 TB the write side is the lake's standing layout, so only
    the pruned read happens per query."""
    ev = load_table(spark, sf_dir, "events")
    path = _roundtrip_dir("dppfact", sf_dir)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        ev.groupBy("event_type")
        .agg(F.avg("value").alias("v"))
        .where(F.col("v") > 50.0)
        .select("event_type")
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1000.0, 0).cast("long"))
            .cast("long")
            .alias("value_milli"),
        )
    )


@query(
    "txlog_zonemap_prune",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE value BETWEEN 50.0 AND 120.0
    """,
    tags=("txlog", "zonemap", "data-skipping"),
)
def txlog_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX zone-map file skipping through the transaction log —
    the step past txlog_partition_prune's single-value [v, v] zone
    maps: the write clusters rows with repartitionByRange(value),
    harvests each file's [min, max] from the parquet FOOTERS (no data
    pages read), and records them in the log entry; a range read then
    prunes the file list by interval overlap before Spark opens
    anything. This
    is Delta/Iceberg column-statistics skipping (and the reason
    OPTIMIZE ZORDER exists: clustered layout == tight zone maps ==
    effective skipping). The residual predicate enforces exactness,
    so equality against the plain filtered scan proves the skip a
    sound superset; tests/test_txlog.py asserts files are actually
    skipped AND that an unclustered layout degrades to reading more
    files without losing rows.

    Scale shape: skipping is decided at METADATA grain (log replay,
    constant per file); the data read touches only overlapping
    files — at 100 TB this is the manifest-driven scan an
    object-store reader performs instead of listing directories."""
    import uuid as _uuid

    from serverless_datalake_spark.sources.txlog import (
        txlog_read_zonemap,
        txlog_write_zonemapped,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    path = _scratch(f"sdlspark_zm_{_uuid.uuid4().hex[:12]}")
    clustered = ev.repartitionByRange(8, F.col("value"))
    txlog_write_zonemapped(clustered, path, ["value"])
    got = txlog_read_zonemap(spark, path, "value", 50.0, 120.0)
    return got.where(F.col("value").between(50.0, 120.0)).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("value_cents"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@query(
    "lake_dynamic_partition_overwrite",
    oracle="""
    WITH corrected AS (
      SELECT event_type,
             CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
             CASE WHEN CAST(time_bucket(INTERVAL '1 day', ts) AS DATE)
                       = DATE '2024-01-10'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) * 2
                  ELSE CAST(ROUND(value * 100, 0) AS BIGINT) END AS cents
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM corrected GROUP BY 1
    """,
    tags=("lake", "partition-overwrite", "backfill"),
)
def lake_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite — the idempotent-backfill contract
    every partitioned lake job relies on: with
    partitionOverwriteMode=dynamic, an INSERT OVERWRITE replaces ONLY
    the partitions present in the incoming data (here: one bad day
    re-derived with corrected values), leaving every other day's
    files untouched. Static mode would have dropped the whole table —
    the classic backfill footgun this setting exists to prevent.

    The query writes the full day-partitioned table, overwrites
    2024-01-10 with a corrected recomputation (value doubled — a
    visible, verifiable change), reads the table back and aggregates;
    the oracle computes the expected post-backfill state from the
    original parquet, so equality proves (a) only the target partition
    changed and (b) it changed to exactly the recomputation.

    Scale shape: the overwrite's file I/O is bounded by the backfilled
    partition, not the table — O(day), the property that makes daily
    restatements affordable at 100 TB."""
    import uuid as _uuid

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    path = _scratch(f"sdlspark_dpo_{_uuid.uuid4().hex[:12]}")
    prior_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        ev.write.partitionBy("day").mode("overwrite").parquet(path)
        corrected = ev.where(F.col("day") == F.lit("2024-01-10").cast("date")).withColumn(
            "cents", F.col("cents") * 2
        )
        corrected.write.partitionBy("day").mode("overwrite").parquet(path)
    finally:
        # restore whatever the session had before, not a hard-coded
        # default (the round-6 advisor's finding)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior_mode)
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents"),
    )


@query(
    "txlog_delete_vacuum",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 5 <= 3
    ), kept AS (
      SELECT * FROM base WHERE o_orderpriority <> '1-URGENT'
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(1 AS BIGINT) AS n_retained_commits
    FROM kept GROUP BY 1
    """,
    tags=("lakehouse", "txlog", "delete", "vacuum"),
)
def txlog_delete_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GDPR lifecycle end-to-end on the txlog table format:
    append two batches, DELETE every urgent order by key
    (copy-on-write rewrite, conditioned on the read head), then
    VACUUM down to one retained version — physically removing the
    files that still contain the deleted rows — and read the
    surviving head plus DESCRIBE HISTORY. The oracle recomputes the
    expected post-delete state from the source relation, so equality
    proves the delete semantics AND that vacuum retired only
    unreferenced files (a vacuum bug that dropped a live file would
    break the head read; one that kept doomed files is caught by
    tests/test_txlog.py's physical-listing assertions). The
    completion row-count proof that deleted rows are GONE from
    storage, not just filtered — the difference between a WHERE and
    an erasure obligation.

    Scale shape: delete is one anti-join rewrite (file-pruned to
    overlapping key ranges at scale — txlog_upsert's discipline);
    vacuum and history read ONLY the log, never data files."""
    import uuid as _uuid

    from serverless_datalake_spark.sources.txlog import (
        txlog_delete,
        txlog_history,
        txlog_read,
        txlog_vacuum,
        txlog_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"sdlspark_dv_{_uuid.uuid4().hex[:12]}")
    txlog_write(o.where(F.col("o_orderkey") % 5 <= 1), path)
    txlog_write(
        o.where((F.col("o_orderkey") % 5 == 2) | (F.col("o_orderkey") % 5 == 3)),
        path,
    )
    doomed = o.where(
        (F.col("o_orderkey") % 5 <= 3) & (F.col("o_orderpriority") == "1-URGENT")
    ).select("o_orderkey")
    head = txlog_delete(spark, path, doomed, key="o_orderkey")
    txlog_vacuum(path, keep_versions=1)
    # vacuum(keep_versions=1) truncates the log to the retention
    # horizon, so DESCRIBE HISTORY afterwards shows exactly ONE
    # retained commit — time travel to v0/v1 is gone BY CONTRACT
    n_commits = txlog_history(spark, path).count()
    final = txlog_read(spark, path, version=head)
    return final.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("cents"),
        F.lit(n_commits).cast("long").alias("n_retained_commits"),
    )
