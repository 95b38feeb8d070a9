"""Minimal transaction-log table format ("Delta Lake lite").

Plain partitioned Parquet has two gaps at object-store scale (Delta
Lake, VLDB 2020): a multi-file write is visible file-by-file (readers
see torn batches), and compaction deletes files readers may be
listing. The fix is the log: data files are immutable and anonymous;
the table IS the ordered list of JSON log entries, each an atomic
set of adds/removes. Readers never list the data directory — they
replay the log to a version and read exactly that file set.

  <path>/_txlog/00000000.json   {"version":0,"adds":[...],"removes":[...]}
  <path>/data/v0-<uuid>/part-*.parquet

Commit protocol: write data files → write log entry to a temp name →
atomic rename to the next version number. Rename-if-absent is atomic
on POSIX/HDFS; on S3 the same protocol needs a conditional PUT
(If-None-Match) or a coordination table — exactly Delta's LogStore
abstraction. Concurrent committers race on the rename; the loser
retries against the new head (optimistic concurrency).

This complements sources/replay.read_lake_as_of (catalog time travel
by ingest time): the txlog gives version-exact snapshots and atomic
compaction; the catalog gives time-range selection semantics (R12).

Object-store verification status (round 9): the commit protocol's
client side IS now executed in-process —
sources/objectstore.py implements `put_if_absent` (PUT +
`If-None-Match: *`, 412 = lost race) and `commit_with_retry` (the
retry-against-new-head loop below), and
tests/test_objectstore_commit.py races 4 writers × 25 commits against
an HTTP endpoint implementing S3's documented conditional-PUT
semantics, asserting dense versions, no lost update, and
loser-observed-winner rebase. What remains untested is the real
S3/MinIO *server* (no installable binaries/credentials in the
sandbox); the recipe below validates that half once an endpoint
exists:

1. Endpoint: `docker run -p 9000:9000 minio/minio server /data`
   (or a real S3 bucket — S3 supports `If-None-Match: *` conditional
   PUT natively since 2024-08, so no coordination table is needed).
2. Spark session confs (hadoop-aws on the classpath):
   `spark.hadoop.fs.s3a.endpoint=http://localhost:9000`,
   `.access.key/.secret.key=minioadmin`,
   `.path.style.access=true`.
3. Swap the publish primitive: on s3a, `os.rename`-if-absent is not
   atomic — route `_commit`'s publish through a `put_if_absent(key,
   body)` that issues `PutObject` with `IfNoneMatch="*"` (boto3
   `put_object(..., IfNoneMatch="*")`); a 412 PreconditionFailed IS
   the lost race and must trigger the existing retry-against-new-head
   path (the local-FS code treats rename-target-exists the same way).
4. Race test: two processes loop `txlog_write(...)` 50 commits each
   against the same table URI. Expected: exactly 100 committed
   versions 0..99, no gaps, no duplicate version number, and
   `txlog_read` at any version sees a prefix-consistent file set.
5. Torn-read test: a reader polling `txlog_read(spark, uri)` in a
   loop during the race must never observe a version whose listed
   data files 404 — data files are fully written before the log
   entry publishes.

The same five steps validate vacuum/checkpoint: run `txlog_vacuum`
concurrently with readers pinned to an old version; the replay-
equivalent checkpoint must land BEFORE any delete (step 4's reader
asserts no 404).
"""

from __future__ import annotations

import datetime
import json
import math
import os
import re
import uuid
from decimal import Decimal, InvalidOperation

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _stat_repr(v):
    """Canonical JSON-safe form for a partition-stat value. JSON-native
    scalars pass through (None stays null — the explicit NULL-partition
    stat); everything else (date, Decimal, bytes, ...) becomes a
    deterministic string so _commit's json.dump can never raise after
    data files are already on disk. Membership checks canonicalize the
    probe values with the same function, so pruning stays consistent.
    Decimals get a CANONICAL plain form (1.00 and 1 collapse to "1")
    so trailing-zero representation differences can never defeat an
    equality prune; ORDERED comparisons on stats never happen on these
    strings directly — see _ord_pair, which compares numerics in the
    Decimal domain ("150" < "99" lexicographically; the round-5
    advisor's zone-map finding)."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, Decimal):
        return format(v.normalize(), "f") if v.is_finite() else str(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # parquet TIMESTAMP(isAdjustedToUTC=true) stats come back
        # tz-AWARE from pyarrow while probe values are naive
        # session-UTC (the session pins spark.sql.session.timeZone to
        # UTC) — normalize to naive UTC wall time so both sides share
        # _temporal_key's canonical format; an offset suffix would
        # make every temporal zone-map compare ambiguous (file never
        # pruned)
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return str(v)


def _numview(v):
    """Decimal view of a numeric value, else None. Strings do NOT
    qualify — a VARCHAR stat '100' must never order numerically."""
    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, int):
        return Decimal(v)
    if isinstance(v, float):
        return None if (math.isnan(v) or math.isinf(v)) else Decimal(str(v))
    if isinstance(v, Decimal):
        return v if v.is_finite() else None
    return None


_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_DATETIME_RE = re.compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?$")


def _temporal_key(s: str):
    """Canonical sortable form for a temporal-SHAPED string, else
    None. A bare ISO date extends to its midnight datetime so date and
    datetime reprs share ONE format ('2024-01-02' vs
    '2024-01-02 00:00:00' compare equal, not '>' lexicographically —
    the round-6 advisor's mixed-format prune bug); 'T' separators
    normalize to a space; trailing-zero fractional seconds are
    stripped ('.500000' → '.5', '.000000' → '') so numerically equal
    instants share one repr — lexicographic comparison of the
    stripped fractions then matches numeric order (digit-by-digit,
    shorter prefix sorts first, exactly decimal-fraction order).
    Zone-aware reprs (offset suffix) deliberately do NOT match —
    mixed aware/naive pairs fall back to ambiguous."""
    if _DATE_RE.match(s):
        return s + " 00:00:00"
    if _DATETIME_RE.match(s):
        s = s.replace("T", " ")
        if "." in s:
            base, frac = s.split(".")
            frac = frac.rstrip("0")
            s = base + ("." + frac if frac else "")
        return s
    return None


def _ord_pair(stat, probe):
    """Comparable (stat_key, probe_key) for an ORDERED zone-map check,
    or None when the pair is ambiguous (ambiguity → the file is read;
    skipping is an optimization, never a correctness filter). Numeric
    probes compare in the Decimal domain — a stored Decimal stat is a
    canonical numeric STRING after the JSON round-trip, so it is
    re-parsed rather than compared lexicographically. Non-numeric
    probes (str/date/datetime/bytes) compare through _stat_repr, whose
    string forms are order-preserving within one type; temporal-shaped
    strings are normalized to ONE canonical datetime format first
    (date stats probed with datetime values, and vice versa, must not
    compare across formats), and a temporal/non-temporal mix is
    ambiguous — the file is read."""
    if isinstance(stat, bool) and isinstance(probe, bool):
        return (stat, probe)  # False < True, same as the lexical order
    pn = _numview(probe)
    if pn is not None:
        sn = _numview(stat)
        if sn is None and isinstance(stat, str):
            try:
                sn = Decimal(stat)
            except InvalidOperation:
                sn = None
            # Decimal() parses 'nan'/'inf' WITHOUT raising; a NaN key
            # would raise InvalidOperation at the < comparison — treat
            # any non-finite parse as ambiguous (keep the file)
            if sn is not None and not sn.is_finite():
                sn = None
        return (sn, pn) if sn is not None else None
    pr = _stat_repr(probe)
    if isinstance(stat, str) and isinstance(pr, str):
        st, pt = _temporal_key(stat), _temporal_key(pr)
        if (st is None) != (pt is None):
            return None  # mixed temporal/plain formats — keep the file
        if st is not None:
            return (st, pt)
        return (stat, pr)
    return None


def _stat_matches(stored, probe) -> bool:
    """Equality for a membership prune: exact canonical-repr match,
    plus numeric-domain equality so int/float/Decimal flavors of the
    same value can never cause a false MISS (a false miss silently
    drops committed data; a false match only reads one extra file).
    Temporal-shaped strings compare through _temporal_key's canonical
    datetime form — a DATE probe against a datetime-repr stat (or
    vice versa) must match its midnight value, and a temporal/plain
    format mix is ambiguous → treated as a match (file read)."""
    pr = _stat_repr(probe)
    if stored == pr:
        return True
    if isinstance(stored, str) and isinstance(pr, str):
        st, pt = _temporal_key(stored), _temporal_key(pr)
        if st is not None and pt is not None:
            return st == pt
        if (st is None) != (pt is None):
            return True  # mixed formats: ambiguous — keep the file
    pn = _numview(probe)
    if pn is None:
        return False
    sn = _numview(stored)
    if sn is None and isinstance(stored, str):
        try:
            sn = Decimal(stored)
        except InvalidOperation:
            return False
        if not sn.is_finite():
            return False  # 'sNaN' == would raise; NaN never equals
    return sn is not None and sn == pn

_LOG_DIR = "_txlog"
# Committed entries are EXACTLY 8-digit names. In-flight temp files
# (".tmp-<uuid>.json") and checkpoint temps must never be read as
# committed state: a reader overlapping a commit would see uncommitted
# data, and a crash between temp-write and publish would leave a
# phantom entry forever.
_COMMITTED = re.compile(r"\d{8}\.json")


def _log_path(path: str) -> str:
    return os.path.join(path, _LOG_DIR)


def _entries(path: str) -> list[dict]:
    d = _log_path(path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if _COMMITTED.fullmatch(name):
            try:
                with open(os.path.join(d, name)) as f:
                    out.append(json.load(f))
            except FileNotFoundError:
                # a concurrent vacuum unlinked this pre-horizon entry
                # between our listdir and open; its checkpoint (>= this
                # version, already visible or about to be read next)
                # is replay-equivalent, so skipping is safe — crashing
                # here broke the documented mid-vacuum reader guarantee
                continue
    return out


def _commit(
    path: str,
    version: int,
    adds: list[str],
    removes: list[str],
    extra: dict | None = None,
) -> None:
    """Publish one log entry atomically via create-if-absent.

    os.link fails with EEXIST when the destination exists, which makes
    the publication a true atomic rename-if-absent (a bare check +
    os.rename is TOCTOU: POSIX rename silently REPLACES, so a racing
    loser would overwrite the winner's entry). `extra` fields (e.g. the
    streaming batch_id marker) ride inside the same single publication
    point — there is no second write that could be torn off by a crash.
    """
    d = _log_path(path)
    os.makedirs(d, exist_ok=True)
    entry = {"version": version, "adds": adds, "removes": removes}
    if extra:
        entry.update(extra)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
    final = os.path.join(d, f"{version:08d}.json")
    with open(tmp, "w") as f:
        json.dump(entry, f)
    try:
        os.link(tmp, final)  # atomic create: EEXIST ⇒ lost the race
    except FileExistsError:
        raise RuntimeError(f"concurrent commit at version {version}; retry") from None
    finally:
        os.unlink(tmp)


def live_files(
    path: str, version: int | None = None, entries: list[dict] | None = None
) -> list[str]:
    """Replay the log to `version` (default: head) → current file set.
    Pass `entries` to replay an already-loaded log instead of
    re-reading and re-parsing every entry file (the commit path calls
    _entries for the version anyway)."""
    files: set[str] = set()
    for e in _entries(path) if entries is None else entries:
        if version is not None and e["version"] > version:
            break
        files.difference_update(e["removes"])
        files.update(e["adds"])
    return sorted(files)


def _list_parquet(batch_dir: str) -> list[str]:
    """The adds of one written batch: the dir's *.parquet files (one
    contract, shared by every write path)."""
    return sorted(
        os.path.join(batch_dir, n)
        for n in os.listdir(batch_dir)
        if n.endswith(".parquet")
    )


def txlog_write(
    df: DataFrame,
    path: str,
    mode: str = "append",
    extra: dict | None = None,
    expected_head: int | None = None,
) -> int:
    """Commit df to the table atomically; returns the new version.

    All files of the batch become visible in ONE log entry — a reader
    replaying the log sees the whole batch or none of it, regardless
    of how many data files the write produced. `overwrite` removes
    every prior live file in the same entry (atomic replace). `extra`
    fields land in that same entry (see _commit).

    `expected_head` makes the commit CONDITIONAL on the log head a
    read-modify-write caller observed (-1 = expect an empty log):
    the new entry claims exactly expected_head+1, so a commit that
    landed in between surfaces as the concurrent-commit error instead
    of silently absorbing (and overwrite-removing) the interloper's
    rows — the lost-update hole the round-6 review found in upsert/
    delete. Blind appends/overwrites keep expected_head=None."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode {mode!r}")
    prior = _entries(path)
    head = prior[-1]["version"] if prior else -1
    if expected_head is not None and head != expected_head:
        raise RuntimeError(
            f"concurrent commit: expected head {expected_head}, found {head}; retry"
        )
    version = head + 1
    batch_dir = os.path.join(path, "data", f"v{version}-{uuid.uuid4().hex[:8]}")
    df.write.mode("error").parquet(batch_dir)
    adds = _list_parquet(batch_dir)
    removes = live_files(path, entries=prior) if mode == "overwrite" else []
    _commit(path, version, adds, removes, extra=extra)
    return version


def txlog_commit_metadata(
    path: str, extra: dict, expected_head: int | None = None
) -> int:
    """Publish a METADATA-ONLY commit: a log entry with no file adds
    or removes, carrying `extra` (e.g. a materialized view advancing
    its source-version stamp). O(1) — no data is read or written;
    readers replaying the log see an unchanged file set. Conditioned
    on `expected_head` like txlog_write."""
    prior = _entries(path)
    head = prior[-1]["version"] if prior else -1
    if expected_head is not None and head != expected_head:
        raise RuntimeError(
            f"concurrent commit: expected head {expected_head}, found {head}; retry"
        )
    version = head + 1
    _commit(path, version, [], [], extra=extra)
    return version


def committed_batch_ids(path: str) -> set:
    """EVERY streaming batch id with a committed marker, regardless of
    app scoping: per-entry ``batch_id`` fields plus the ``batch_ids``
    AND ``txn_markers`` lists carried forward by vacuum checkpoints.
    App-scoped markers are folded in because a vacuum moves them from
    live entries into ``txn_markers`` only — a caller of this legacy
    unscoped guard would otherwise see those batches flip to
    "uncommitted" after a vacuum and re-commit them. Prefer
    committed_txn_markers for anything multi-writer."""
    ids: set = set()
    for e in _entries(path):
        if "batch_id" in e:
            ids.add(e["batch_id"])
        ids.update(e.get("batch_ids", []))
        ids.update(m[1] for m in e.get("txn_markers", []))
    return ids


def committed_txn_markers(path: str) -> set:
    """(txn_app, batch_id) replay markers — the Delta
    (txnAppId, txnVersion) pattern. Spark's batch ids restart from 0
    on a checkpoint reset and collide across independent queries
    writing one table, so a bare batch_id guard silently skips REAL
    data in those cases; scoping the marker to a writer-chosen app id
    disambiguates. Entries without a txn_app read back as app None
    (the single-writer legacy form); vacuum checkpoints carry both
    forms forward (`batch_ids` / `txn_markers`)."""
    out: set = set()
    for e in _entries(path):
        if "batch_id" in e:
            out.add((e.get("txn_app"), e["batch_id"]))
        for b in e.get("batch_ids", []):
            out.add((None, b))
        for app, b in e.get("txn_markers", []):
            out.add((app, b))
    return out


def txlog_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Snapshot read at `version` (default head). Uncommitted data
    files (present on disk, absent from the log) are invisible.

    ``merge_schema=True`` unions the per-file schemas (additive
    schema evolution: columns appended by later commits read as NULL
    in earlier files — Delta/Iceberg ADD COLUMN semantics). Off by
    default because the footer-union pass costs one extra metadata
    read per file set."""
    files = live_files(path, version)
    # NOTE: an empty snapshot raises (below) rather than returning an
    # empty DataFrame — with zero live files there is no schema source
    # to build one from; callers distinguishing empty-table from
    # missing-table should check live_files()/_entries() directly.
    if not files:
        raise FileNotFoundError(f"no committed files in {path} at version {version}")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*files)


def txlog_compact(spark: SparkSession, path: str, target_files: int = 1) -> int:
    """Rewrite the current snapshot into `target_files` files and swap
    them in with one log entry (adds=new, removes=old). A reader at
    the prior version still resolves the old files — compaction never
    disturbs in-flight reads; old files are only logically removed
    (physical GC = delete files no live version references)."""
    entries = _entries(path)
    old = live_files(path, entries=entries)
    if not entries or not old:
        # empty log / delete-all snapshot: same error txlog_read uses,
        # not an IndexError or a pathless AnalysisException
        raise FileNotFoundError(f"no committed files in {path}")
    snap = spark.read.parquet(*old).coalesce(target_files)
    version = entries[-1]["version"] + 1
    batch_dir = os.path.join(path, "data", f"v{version}-compact-{uuid.uuid4().hex[:8]}")
    snap.write.mode("error").parquet(batch_dir)
    _commit(path, version, _list_parquet(batch_dir), removes=old)
    return version


def txlog_upsert(
    spark: SparkSession, path: str, updates: DataFrame, key: str,
    extra: dict | None = None,
) -> int:
    """MERGE-style upsert: rows in `updates` replace same-key rows of
    the current snapshot; new keys append. Copy-on-write like Delta's
    MERGE — rewrite the snapshot minus matched keys, plus updates, as
    one atomic overwrite commit (readers see pre- or post-merge, never
    a mix). At scale the rewrite would be restricted to files whose
    min/max key ranges overlap the update keys; with a z-ordered or
    sorted layout that's a small fraction of the table.

    The commit is CONDITIONED on the head version this merge read
    (expected_head): a writer that lands in between makes this commit
    raise the concurrent-commit error so the caller re-merges against
    the new head — without the condition, the interloper's rows would
    be overwrite-removed without having been merged (lost update)."""
    entries = _entries(path)
    if not entries:  # first commit: MERGE into empty == append
        return txlog_write(updates, path, extra=extra, expected_head=-1)
    head = entries[-1]["version"]
    current = txlog_read(spark, path, version=head)
    kept = current.join(updates.select(key).distinct(), on=key, how="left_anti")
    merged = kept.unionByName(updates)
    return txlog_write(
        merged, path, mode="overwrite", extra=extra, expected_head=head
    )


def txlog_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Change feed between two versions: rows added (op='insert') and
    rows removed (op='delete'), computed from the two snapshots. A
    row upserted to the same value appears in neither. Multiset
    semantics via exceptAll — duplicate rows count."""
    before = txlog_read(spark, path, from_version)
    after = txlog_read(spark, path, to_version)
    from pyspark.sql import functions as F

    ins = after.exceptAll(before).withColumn("op", F.lit("insert"))
    dels = before.exceptAll(after).withColumn("op", F.lit("delete"))
    return ins.unionByName(dels)


def txlog_delete(spark: SparkSession, path: str, keys: DataFrame, key: str) -> int:
    """Delete-by-key (the GDPR/right-to-be-forgotten path): rewrite
    the snapshot without matching keys as one atomic overwrite. Note
    deleted rows remain physically present in old versions until
    txlog_vacuum retires them — retention policy is the vacuum
    horizon, exactly as in Delta. Conditioned on the read head, like
    txlog_upsert: a concurrent commit raises instead of being
    silently overwritten away."""
    entries = _entries(path)
    if not entries:
        raise FileNotFoundError(f"no committed files in {path}")
    head = entries[-1]["version"]
    current = txlog_read(spark, path, version=head)
    kept = current.join(keys.select(key).distinct(), on=key, how="left_anti")
    return txlog_write(kept, path, mode="overwrite", expected_head=head)


def txlog_vacuum(path: str, keep_versions: int = 1) -> list[str]:
    """Physically delete data files referenced ONLY by versions older
    than the last `keep_versions` commits, and truncate their log
    entries. Time travel works back to the retention horizon
    afterwards; earlier versions are gone. Returns deleted paths."""
    if keep_versions < 1:
        # keep_versions=0 would retain NOTHING: retained=∅ and doomed
        # = every file including the live snapshot, while the written
        # checkpoint still references them — an irrecoverable table
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    entries = _entries(path)
    if len(entries) <= keep_versions:
        return []
    head_version = entries[-1]["version"]
    horizon = head_version - keep_versions + 1
    retained: set[str] = set()
    for v in range(horizon, head_version + 1):
        # entries= reuses the already-parsed log: without it each
        # iteration re-read and re-parsed EVERY entry file (O(V*K)
        # file reads for K kept versions)
        retained.update(live_files(path, v, entries=entries))
    all_files: set[str] = set()
    for e in entries:
        all_files.update(e["adds"])
    doomed = sorted(all_files - retained)
    # Squash pre-horizon history into one checkpoint entry FIRST, then
    # delete what it supersedes — a reader replaying mid-vacuum sees
    # either the old entries or an equivalent checkpoint, never a log
    # whose horizon entry lacks the base adds. The checkpoint is
    # replay-equivalent even while older entries still exist: it
    # removes every pre-horizon add that is not in the base set.
    base = live_files(path, horizon, entries=entries)
    squashed = [e for e in entries if e["version"] <= horizon]
    pre_adds: set[str] = set()
    for e in squashed:
        pre_adds.update(e["adds"])
    # streaming replay-dedup markers must survive the squash (a dropped
    # batch_id would let a restarted query re-commit that batch)
    batch_ids = sorted(
        {e["batch_id"] for e in squashed if "batch_id" in e and "txn_app" not in e}
        | {b for e in squashed for b in e.get("batch_ids", [])},
        key=str,
    )
    # app-scoped markers survive separately (committed_txn_markers)
    txn_markers = sorted(
        {
            (e["txn_app"], e["batch_id"])
            for e in squashed
            if "batch_id" in e and "txn_app" in e
        }
        | {tuple(m) for e in squashed for m in e.get("txn_markers", [])},
        key=str,
    )
    # per-file pruning metadata must survive the squash too: replay
    # the squashed entries' stats/zonemaps and carry forward those of
    # files the checkpoint keeps alive — dropping them silently
    # disabled membership/zone-map skipping for every surviving file
    # forever after (round-6 review finding)
    stats_acc: dict[str, dict] = {}
    zm_acc: dict[str, dict] = {}
    for e in squashed:
        for r in e["removes"]:
            stats_acc.pop(r, None)
            zm_acc.pop(r, None)
        stats_acc.update(e.get("stats") or {})
        zm_acc.update(e.get("zonemaps") or {})
    base_set = set(base)
    ck = {
        "version": horizon,
        "adds": base,
        "removes": sorted(pre_adds - base_set),
        "checkpoint": True,
        "batch_ids": batch_ids,
    }
    if txn_markers:
        ck["txn_markers"] = [list(m) for m in txn_markers]
    # application extras (e.g. matview's mv_source_version stamp) must
    # survive the squash: for every non-structural field, carry the
    # LATEST squashed value forward — dropping them permanently broke
    # any reader of a stamped field after its entry fell past the
    # horizon (round-7 review finding: a vacuumed view could never
    # refresh again)
    _structural = {
        "version", "adds", "removes", "checkpoint", "batch_id",
        "batch_ids", "txn_app", "txn_markers", "stats", "zonemaps",
    }
    for e in squashed:  # ascending version order: later wins
        for k, v in e.items():
            if k not in _structural:
                ck[k] = v
    kept_stats = {f: s for f, s in stats_acc.items() if f in base_set}
    kept_zm = {f: s for f, s in zm_acc.items() if f in base_set}
    if kept_stats:
        ck["stats"] = kept_stats
    if kept_zm:
        ck["zonemaps"] = kept_zm
    p0 = os.path.join(_log_path(path), f"{horizon:08d}.json")
    tmp = os.path.join(_log_path(path), f".tmp-ck-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(ck, f)
    os.replace(tmp, p0)  # atomic swap of the horizon entry
    for e in entries:
        if e["version"] < horizon:
            os.unlink(os.path.join(_log_path(path), f"{e['version']:08d}.json"))
    for f in doomed:
        if os.path.exists(f):
            os.unlink(f)
    return doomed


def txlog_optimize(
    spark: SparkSession,
    path: str,
    col_a: str,
    col_b: str,
    files: int = 8,
) -> int:
    """OPTIMIZE … ZORDER BY: rewrite the current snapshot clustered
    along the Morton curve of (col_a, col_b) and swap it in with one
    atomic commit. Combines sources/zorder.py (2-D min/max skipping)
    with the log's reader-invisible compaction: queries running
    against the pre-optimize version keep their file set; new queries
    get the clustered layout."""
    from serverless_datalake_spark.sources.zorder import zorder_key_approx

    entries = _entries(path)
    old = live_files(path, entries=entries)
    if not entries or not old:
        raise FileNotFoundError(f"no committed files in {path}")
    snap = spark.read.parquet(*old)
    clustered = (
        zorder_key_approx(snap, col_a, col_b)
        .repartitionByRange(files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    version = entries[-1]["version"] + 1
    batch_dir = os.path.join(path, "data", f"v{version}-optimize-{uuid.uuid4().hex[:8]}")
    clustered.write.mode("error").parquet(batch_dir)
    _commit(path, version, _list_parquet(batch_dir), removes=old)
    return version


def txlog_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY equivalent: one row per committed version with
    its operation shape (adds/removes counts, checkpoint flag,
    streaming batch id) — the operational introspection surface every
    table format exposes. Reads only the log (no data files)."""
    rows = [
        (
            e["version"],
            len(e["adds"]),
            len(e["removes"]),
            bool(e.get("checkpoint", False)),
            e.get("batch_id"),
        )
        for e in _entries(path)
    ]
    return spark.createDataFrame(
        rows,
        "version long, n_adds int, n_removes int, is_checkpoint boolean, batch_id long",
    )


def txlog_write_partitioned(
    df: DataFrame, path: str, part_col: str, mode: str = "append"
) -> int:
    """Commit df with FILE-LEVEL PARTITION STATS in the log entry —
    the Delta/Iceberg data-skipping model: files stay anonymous and
    immutable, but the log records each file's single value of
    `part_col`, so a reader can prune the file LIST instead of
    relying on directory layout. Because the stats live per-entry,
    the partition column can change across commits (partition
    EVOLUTION): files committed under an older layout simply carry no
    stat for the new column and are never pruned — readable, just not
    skippable, which is exactly Iceberg's evolution semantics.

    One data dir per distinct value keeps each file single-valued;
    the per-value loop writes sequentially (fine for low-cardinality
    partition columns, which is the only kind you should partition
    by — see audit_partition_skew)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode {mode!r}")
    prior = _entries(path)
    version = prior[-1]["version"] + 1 if prior else 0
    # PIN the batch across the distinct-collect and the per-value
    # writes: an unpersisted df is recomputed per pass, so a
    # non-deterministic or moving source (a staging dir receiving
    # files mid-commit) could surface values the distinct pass never
    # saw — rows silently absent from every slice and therefore from
    # the committed entry (ingest_batch persists for the same reason)
    df = df.persist()
    try:
        values = [r[0] for r in df.select(part_col).distinct().collect()]
        # (adds listed per value-dir below — the _list_parquet contract,
        # inlined because stats are attached file-by-file)
        adds: list[str] = []
        stats: dict[str, dict] = {}
        batch_dir = os.path.join(path, "data", f"v{version}-{uuid.uuid4().hex[:8]}")
        for v in sorted(values, key=str):
            vdir = os.path.join(batch_dir, f"pv-{uuid.uuid4().hex[:8]}")
            # eqNullSafe so a NULL partition value becomes its own file
            # with an explicit null stat (Delta/Iceberg route NULLs to a
            # default partition; dropping them would be silent data loss).
            df.where(df[part_col].eqNullSafe(F.lit(v))).write.mode("error").parquet(vdir)
            for n in os.listdir(vdir):
                if n.endswith(".parquet"):
                    fp = os.path.join(vdir, n)
                    adds.append(fp)
                    stats[fp] = {part_col: _stat_repr(v)}
    finally:
        df.unpersist()
    removes = live_files(path, entries=prior) if mode == "overwrite" else []
    _commit(path, version, sorted(adds), removes, extra={"stats": stats})
    return version


def live_files_pruned(
    path: str, part_col: str, values: list, version: int | None = None
) -> tuple[list[str], int]:
    """Replay the log keeping per-file stats; return (files whose
    recorded `part_col` is in `values` PLUS every file with no stat
    for that column, total_live_count). Unstatted files must be read
    — pruning is an optimization, never a correctness filter."""
    stats: dict[str, dict] = {}
    files: set[str] = set()
    for e in _entries(path):
        if version is not None and e["version"] > version:
            break
        for r in e["removes"]:
            files.discard(r)
            stats.pop(r, None)
        for a in e["adds"]:
            files.add(a)
        for fp, st in (e.get("stats") or {}).items():
            stats[fp] = st
    keep = [
        f
        for f in sorted(files)
        if part_col not in stats.get(f, {})
        or any(_stat_matches(stats[f][part_col], v) for v in values)
    ]
    return keep, len(files)


def txlog_read_pruned(
    spark: SparkSession, path: str, part_col: str, values: list,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read touching only files that can contain
    `part_col IN values` per the log's file stats (plus unstatted
    legacy files). Callers still apply the residual predicate — the
    prune is a superset guarantee, identical to how partition pruning
    composes with filters in any lakehouse reader."""
    files, _total = live_files_pruned(path, part_col, values, version)
    if not files:
        raise FileNotFoundError(f"no matching committed files in {path}")
    return spark.read.parquet(*files)


def txlog_write_zonemapped(
    df: DataFrame, path: str, stat_cols: list[str], mode: str = "append"
) -> int:
    """Commit df with per-file MIN/MAX ZONE MAPS for `stat_cols` in
    the log entry — the Delta/Iceberg file-statistics model one step
    past txlog_write_partitioned's single-value stats: files hold
    arbitrary value ranges, and a range predicate prunes the file
    LIST by [min, max] overlap. Stats are harvested from the parquet
    FOOTERS after the write (pyarrow metadata read — no data pages
    touched), so the stats are exactly what the files contain
    regardless of task-level row distribution.

    Pair with a repartitionByRange(stat_col) before writing to make
    the zone maps tight (clustered layout == effective skipping —
    the same reason Delta OPTIMIZE ZORDER exists)."""
    import pyarrow.parquet as pq

    def _footer_minmax(st, sch_col):
        """(min, max) from a column-chunk Statistics, decoding logical
        types pyarrow's stats cast doesn't implement: Spark writes
        precision≤18 decimals as INT32/INT64 physical (and larger ones
        as FLBA) and `st.min` raises ArrowNotImplementedError there —
        the raw unscaled value is still in min_raw/max_raw. Undecodable
        stats return (None, None) → file committed unstatted → always
        read (prune is an optimization, never a correctness filter)."""
        try:
            return st.min, st.max
        except NotImplementedError:
            pass
        lt = sch_col.logical_type
        if lt is not None and lt.type == "DECIMAL":

            def dec(raw):
                unscaled = (
                    int.from_bytes(bytes(raw), "big", signed=True)
                    if isinstance(raw, (bytes, bytearray))
                    else int(raw)
                )
                return Decimal(unscaled).scaleb(-sch_col.scale)

            return dec(st.min_raw), dec(st.max_raw)
        return None, None

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode {mode!r}")
    prior = _entries(path)
    version = prior[-1]["version"] + 1 if prior else 0
    batch_dir = os.path.join(path, "data", f"v{version}-{uuid.uuid4().hex[:8]}")
    df.write.mode("error").parquet(batch_dir)
    adds: list[str] = []
    stats: dict[str, dict] = {}
    for n in sorted(os.listdir(batch_dir)):
        if not n.endswith(".parquet"):
            continue
        fp = os.path.join(batch_dir, n)
        adds.append(fp)
        md = pq.read_metadata(fp)
        # index by parquet LEAF path, not Arrow top-level field index:
        # a struct/array column preceding the stat column makes the two
        # numbering schemes diverge, and row_group().column(ci) indexes
        # leaves — the wrong column's min/max would be logged and later
        # prune files that DO contain matching rows (round-6 review).
        # Top-level scalar columns have path_in_schema == their name;
        # nested stat columns simply find no leaf and stay unstatted.
        leaf_index = {
            md.schema.column(i).path: i for i in range(md.num_columns)
        }
        fstats: dict[str, list] = {}
        for col in stat_cols:
            ci = leaf_index.get(col)
            if ci is None:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                mn, mx = _footer_minmax(st, md.schema.column(ci))
                if mn is None:
                    lo = hi = None
                    break
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            if lo is not None:
                fstats[col] = [_stat_repr(lo), _stat_repr(hi)]
        if fstats:
            stats[fp] = fstats
    removes = live_files(path, entries=prior) if mode == "overwrite" else []
    _commit(path, version, sorted(adds), removes, extra={"zonemaps": stats})
    return version


def live_files_zonemap_pruned(
    path: str, col: str, lo, hi, version: int | None = None
) -> tuple[list[str], int]:
    """Replay the log keeping per-file zone maps; return (files whose
    [min, max] for `col` OVERLAPS [lo, hi] PLUS every file with no
    zone map for that column, total_live). Unstatted files must be
    read — skipping is an optimization, never a correctness filter."""
    zmaps: dict[str, dict] = {}
    files: set[str] = set()
    for e in _entries(path):
        if version is not None and e["version"] > version:
            break
        for r in e["removes"]:
            files.discard(r)
            zmaps.pop(r, None)
        for a in e["adds"]:
            files.add(a)
        for fp, st in (e.get("zonemaps") or {}).items():
            zmaps[fp] = st
    keep = []
    for f in sorted(files):
        zm = zmaps.get(f, {}).get(col)
        disjoint = False
        if zm is not None:
            below = _ord_pair(zm[1], lo)  # file_max vs query lo
            above = _ord_pair(zm[0], hi)  # file_min vs query hi
            disjoint = (below is not None and below[0] < below[1]) or (
                above is not None and above[0] > above[1]
            )
        if not disjoint:
            keep.append(f)
    return keep, len(files)


def txlog_read_zonemap(
    spark: SparkSession, path: str, col: str, lo, hi,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read touching only files whose zone map can contain
    `col BETWEEN lo AND hi` (plus unstatted legacy files). Callers
    still apply the residual predicate — the skip is a superset
    guarantee, exactly how min/max pruning composes with filters in
    Delta/Iceberg readers."""
    files, _total = live_files_zonemap_pruned(path, col, lo, hi, version)
    if not files:
        raise FileNotFoundError(f"no matching committed files in {path}")
    return spark.read.parquet(*files)
