"""Lake maintenance: small-file compaction.

Streaming ingest writes one file set per micro-batch per partition;
after a day a hot source partition holds thousands of small files and
every scan pays per-file open/footer costs (the #1 operational killer
of file-based lakes at scale). Compaction rewrites one partition's
CAPTURED files into ~target-sized files (a staged move, then delete
of exactly the inputs — concurrent appends survive), preserving the
time-sorted layout that makes range scans skip row groups.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import SparkSession

from serverless_datalake_spark.sources import lake

TARGET_FILE_BYTES = 128 * 1024 * 1024


def partition_file_stats(lake_path: str, source: str) -> tuple[int, int]:
    """(n_files, total_bytes) of one source partition on local disk,
    counting nested sub-partitions too (a lake written with a finer
    partition chain than source=, e.g. source=/batch_id=)."""
    files = _partition_files(lake_path, source)
    return len(files), sum(os.path.getsize(f) for f in files)


def _partition_dir(lake_path: str, source: str) -> str | None:
    """The source's partition directory, found the way Spark reads it
    (``lake.source_dirs``: ``ads/click`` lives in
    ``source=ads%2Fclick``); None when the lake has none."""
    dirs = lake.source_dirs(lake_path, source)
    if len(dirs) > 1:
        raise ValueError(f"{lake_path} holds source {source!r} in several directories: {dirs}")
    return dirs[0] if dirs else None


def _sub_partition_keys(lake_path: str, source: str) -> list[str]:
    """Partition-column chain BELOW source= (empty for the flat layout
    the engine's own writers use; a lake written elsewhere may be
    nested), read off the directory names: source=clicks/batch_id=b0/... →
    ['batch_id']. The rewrite must partition by the same chain or it
    would mix two physical layouts in one table."""
    keys: list[str] = []
    d = _partition_dir(lake_path, source)
    while d is not None:
        subdirs = [
            n
            for n in os.listdir(d)
            if "=" in n and os.path.isdir(os.path.join(d, n))
        ]
        if not subdirs:
            break
        key = subdirs[0].split("=", 1)[0]
        if any(n.split("=", 1)[0] != key for n in subdirs):
            raise ValueError(f"inconsistent partition keys under {d}: {subdirs}")
        keys.append(key)
        d = os.path.join(d, subdirs[0])
    return keys


def _partition_files(lake_path: str, source: str) -> list[str]:
    """The data files Spark reads in the source's partition."""
    d = _partition_dir(lake_path, source)
    return lake.data_files(d) if d is not None else []


def _remove(f: str) -> None:
    """Delete a data file and its hidden checksum, those still there."""
    for p in (f, os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")):
        if os.path.exists(p):
            os.unlink(p)


def _without_newest_batch(files: list[str]) -> list[str]:
    """``files`` less those of the batch that published the newest of
    them. A commit's re-run finds its batch's files by their
    ``<batch_id>.part-`` name prefix (ingest.commit_batch), which a
    compacted file, merging batches, no longer has; the newest batch
    is the one a retried micro-batch can be."""
    names = {f: os.path.basename(f).partition(".part-") for f in files}
    batches = {f: bid for f, (bid, dot_part, _) in names.items() if dot_part}
    if not batches:
        return files
    newest = batches[max(batches, key=os.path.getmtime)]
    return [f for f in files if batches.get(f) != newest]


def _replay_doomed_manifests(lake_path: str, source: str) -> None:
    """Finish any compaction that crashed between its append and its
    deletes: each manifest lists input files whose compacted copy is
    already fully committed, so deleting the survivors loses nothing.
    (The marker of an older append-then-manifest protocol, kept so a
    crash it left is still healed.)"""
    pdir = _partition_dir(lake_path, source)
    if pdir is None:
        return
    for m in glob.glob(os.path.join(pdir, "_compact-*.doomed.json")):
        with open(m) as f:
            for doomed in json.load(f):
                _remove(doomed)
        os.unlink(m)


def _replay_intent_markers(lake_path: str, source: str) -> None:
    """Heal a compaction that crashed mid-flight, in EITHER direction.

    The compacted files are staged, and the staging directory's
    removal is the commit point, so recovery is decidable from on-disk
    state alone:

    * intent marker + staging dir present → crash BEFORE commit: roll
      BACK — delete any compacted copies already moved into place
      (their ``compact-<id>-`` name prefix identifies them), the
      staging dir, and the marker. Originals were never touched.
    * intent marker present, staging dir gone → crash AFTER commit:
      roll FORWARD — every compacted copy is in place, so delete the
      captured originals and the marker.

    Assumes one compactor per partition at a time, as the
    capture/delete sequence always has.
    """
    pdir = _partition_dir(lake_path, source)
    if pdir is None:
        return
    intents = glob.glob(os.path.join(pdir, "_compact-*.intent.json"))
    for m in intents:
        with open(m) as f:
            intent = json.load(f)
        staging, prefix = intent["staging"], intent["prefix"]
        if os.path.isdir(staging):
            for moved in glob.glob(
                os.path.join(pdir, "**", prefix + "*"), recursive=True
            ):
                if os.path.isfile(moved):
                    os.unlink(moved)
            shutil.rmtree(staging)
        else:
            for doomed in intent["doomed"]:
                _remove(doomed)
        os.unlink(m)
    # any staging dir left now has no marker (all markers were consumed
    # above) = crash between mkdir and the marker write; it holds
    # nothing readers see (leading '_') and nothing was moved yet —
    # plain garbage
    for orphan in glob.glob(os.path.join(pdir, "_compact-*.staging")):
        if os.path.isdir(orphan):
            shutil.rmtree(orphan)


def compact_partition(
    spark: SparkSession,
    lake_path: str,
    source: str,
    order_col: str = "ts",
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> dict[str, int]:
    """Rewrite one source partition into ceil(bytes/target) files,
    sorted by ``order_col`` so parquet min/max stats stay tight.

    Concurrent-writer safety: the input file set is CAPTURED up front,
    the compacted files land via a STAGED two-phase move, and then
    exactly the captured inputs are deleted — a micro-batch file
    appended to the partition mid-compaction survives untouched. The
    newest batch's files are not captured: merged with other batches',
    a batch can no longer be replaced by a re-run of its commit
    (ingest.commit_batch), and the newest is the one a retried
    micro-batch can be.

    Crash safety: Spark writes the compacted output
    into a hidden staging dir inside the partition, an intent marker
    (written AFTER the staging dir exists, BEFORE any visible change)
    records the captured inputs, staged files move into place under a
    ``compact-<id>-`` name prefix, and REMOVING the staging dir is the
    commit point — only then are the originals deleted. A crash at any
    instant leaves a state `_replay_intent_markers` can decide from
    disk alone: staging still present → roll back (delete the prefixed
    copies; originals were never touched), staging gone → roll forward
    (delete the captured originals). Readers see a transient duplicate
    window between the move and the deletes; for atomic reader
    semantics use the transaction-log path (txlog_optimize), which this
    non-transactional directory layout cannot provide. Assumes one
    compactor per partition at a time.
    """
    _replay_doomed_manifests(lake_path, source)
    _replay_intent_markers(lake_path, source)
    files = _partition_files(lake_path, source)
    doomed = _without_newest_batch(files)
    if not doomed:
        return {"files_before": len(files), "files_after": len(files), "bytes": 0}
    n_before = len(files)
    total_bytes = sum(os.path.getsize(f) for f in doomed)
    n_files = max(1, -(-total_bytes // max(target_file_bytes, 1)))
    sub_keys = _sub_partition_keys(lake_path, source)
    pdir = _partition_dir(lake_path, source)

    cid = uuid.uuid4().hex[:8]
    staging = os.path.join(pdir, f"_compact-{cid}.staging")
    prefix = f"compact-{cid}-"
    os.makedirs(staging)
    # staging exists → now publish the intent (this order matters: an
    # orphan marker whose staging never existed would roll FORWARD and
    # delete originals that have no compacted copy)
    marker = os.path.join(pdir, f"_compact-{cid}.intent.json")
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"doomed": doomed, "staging": staging, "prefix": prefix}, f)
    os.replace(tmp, marker)

    # read EXACTLY the captured files (basePath keeps the partition
    # columns that explicit leaf paths would otherwise lose)
    df = spark.read.option("basePath", lake_path).parquet(*doomed)
    shuffled = (
        # co-locate rows of each sub-partition so the rewrite emits
        # ~one file per (task, sub-partition) instead of one per
        # task × partition cross product
        df.repartition(n_files, *sub_keys)
        if sub_keys
        else df.repartition(n_files)
    )
    (
        shuffled.sortWithinPartitions(order_col)
        .write.mode("append")
        .partitionBy("source", *sub_keys)
        .parquet(staging)
    )
    # move staged parquet into place (prefixed so a rollback can find
    # exactly these copies); same filesystem → os.replace is atomic
    for staged in glob.glob(
        os.path.join(staging, "**", "*.parquet"), recursive=True
    ):
        rel = os.path.relpath(staged, staging)
        dest_dir = os.path.join(lake_path, os.path.dirname(rel))
        os.makedirs(dest_dir, exist_ok=True)
        os.replace(
            staged, os.path.join(dest_dir, prefix + os.path.basename(staged))
        )
    shutil.rmtree(staging)  # COMMIT POINT
    for f in doomed:
        _remove(f)
    os.unlink(marker)
    n_after, _ = partition_file_stats(lake_path, source)
    return {"files_before": n_before, "files_after": n_after, "bytes": total_bytes}
