"""Incrementally-maintained materialized aggregate views over a
txlog table.

The reference keeps a derived catalog (per-source key index) current
as the lake grows (reference: src/event_recorder writes the catalog
row alongside every object landing). This module generalizes that
pattern: an aggregate VIEW (group keys → count + exact integer-unit
sum) is itself a txlog table stamped with the SOURCE VERSION it
reflects; refresh reads ONLY the files added/removed between the
stamped version and the source head, aggregates that delta with ±1
weights, and merges it into the view — append-only commits therefore
cost O(delta), not O(table).

Exactness discipline: the maintained measure is COUNT plus a SUM of
integer units (caller supplies the unit expression), so merge order
and partitioning never change the result — a refreshed view is
bit-identical to a from-scratch rebuild (tests assert equality after
arbitrary append/upsert/delete interleavings).

Scale notes: overwrite commits (upsert/delete rewrite the snapshot)
make the file delta degenerate to old+new full sets — the refresh is
then a full recompute, same as Delta CDF without explicit change
files. The ingest path this engine optimizes for (streaming appends,
reference R9 catalog-append) stays O(delta). The delta aggregate and
the view merge shuffle only group-key-sized relations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from serverless_datalake_spark.sources.txlog import (
    _entries,
    _snapshot,
    txlog_commit_metadata,
    txlog_read,
    txlog_write,
)

MV_SOURCE_VERSION = "mv_source_version"


def current_version(path: str) -> int:
    """Head version of a txlog table (-1 for an empty log)."""
    entries = _entries(path)
    return entries[-1]["version"] if entries else -1


def txlog_file_changes(
    path: str, from_version: int, to_version: int | None = None
) -> tuple[list[str], list[str]]:
    """(added_files, removed_files) between two versions — the
    file-level change feed. Pure log arithmetic: no data files are
    opened, so planning a refresh is O(log), and an append-only
    history yields removed == [].

    A version that a vacuum squashed away raises ValueError (in the
    replay): its empty file set would read as 'everything was added'
    and a consumer would double-count the whole table (round-7 review
    finding) — rebuild the consumer (mv_build) instead.
    `from_version=-1` means before the first commit (an empty set)."""
    entries = _entries(path)
    before = _snapshot(path, from_version, entries)
    after = _snapshot(path, to_version, entries)
    return sorted(after.keys() - before.keys()), sorted(before.keys() - after.keys())


def _aggregate(df: DataFrame, keys: list[str], unit: Column, weight: int) -> DataFrame:
    w = F.lit(weight)
    return df.groupBy(*keys).agg(
        F.sum(w.cast("long")).alias("n_rows"),
        F.sum((unit.cast("long") * w).cast("long")).alias("sum_units"),
    )


def mv_build(
    spark: SparkSession,
    source_path: str,
    mv_path: str,
    keys: list[str],
    unit: Column,
) -> int:
    """Full build: aggregate the current snapshot, stamp the view
    with the source version it reflects. Returns the view version."""
    src_v = current_version(source_path)
    agg = _aggregate(txlog_read(spark, source_path), keys, unit, 1)
    return txlog_write(
        agg, mv_path, mode="overwrite", extra={MV_SOURCE_VERSION: src_v}
    )


def mv_source_version(mv_path: str) -> int:
    """Source version the view currently reflects (from the head
    entry's stamp — carried through the atomic commit publication)."""
    entries = _entries(mv_path)
    if not entries:
        raise ValueError(f"no materialized view at {mv_path}")
    for e in reversed(entries):
        if MV_SOURCE_VERSION in e:
            return e[MV_SOURCE_VERSION]
    raise ValueError(f"{mv_path} has no {MV_SOURCE_VERSION} stamp")


def mv_refresh(
    spark: SparkSession,
    source_path: str,
    mv_path: str,
    keys: list[str],
    unit: Column,
) -> int:
    """Incremental refresh: read only the file-level delta since the
    stamped source version, aggregate it with ±1 weights, merge into
    the view, drop emptied groups, and commit with the new stamp.
    Idempotent when nothing changed (returns the current view
    version without writing).

    Concurrency: both commits are CONDITIONED on the view head that
    the stamp was read from (txlog expected_head) — two overlapping
    refreshes would otherwise apply the same delta twice, with the
    loser silently overwriting the winner's merge (the lost-update
    shape txlog_upsert was fixed against in round 6). The loser now
    raises and can simply re-run. A source vacuumed past the stamp
    raises in txlog_file_changes (never a silent double-count);
    recover with mv_build."""
    mv_head = current_version(mv_path)
    last = mv_source_version(mv_path)
    head = current_version(source_path)
    if head == last:
        return mv_head
    added, removed = txlog_file_changes(source_path, last, head)
    parts = []
    if added:
        parts.append(_aggregate(spark.read.parquet(*added), keys, unit, 1))
    if removed:
        parts.append(_aggregate(spark.read.parquet(*removed), keys, unit, -1))
    if not parts:
        # version advanced with no file changes (e.g. metadata-only
        # commits): advance the stamp with a METADATA-ONLY commit —
        # the previous restamp physically rewrote every view row
        # (O(view) data for an O(1) bookkeeping step, round-7 review
        # finding)
        return txlog_commit_metadata(
            mv_path, {MV_SOURCE_VERSION: head}, expected_head=mv_head
        )
    delta = parts[0]
    for p in parts[1:]:
        delta = delta.unionByName(p)
    delta = delta.groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"), F.sum("sum_units").alias("sum_units")
    )
    old = txlog_read(spark, mv_path)
    merged = (
        old.unionByName(delta)
        .groupBy(*keys)
        .agg(F.sum("n_rows").alias("n_rows"), F.sum("sum_units").alias("sum_units"))
        .where(F.col("n_rows") > 0)
    )
    return txlog_write(
        merged,
        mv_path,
        mode="overwrite",
        extra={MV_SOURCE_VERSION: head},
        expected_head=mv_head,
    )
