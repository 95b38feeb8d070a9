"""Reference-semantics tests (SURVEY.md §5): per-source partitioning
(R4), catalog append (R9), replay range-exactness + no re-catalog
(R12/R13, recorder:94–99), fan-out delivery (R11), concatenated-JSON
ingest format (§1.3), streaming ingest with dedup (§1.4)."""

from __future__ import annotations

import ast
import glob
import gzip
import json
import os
import pathlib
import warnings

import pytest
from pyspark.sql import functions as F

from serverless_datalake_spark.sources import distribution, ingest, lake, replay
from serverless_datalake_spark.streaming import pipeline as streaming_pipeline


def _write_staging(tmpdir: str, events: list[dict], fname: str = "part-0.json.gz") -> str:
    os.makedirs(tmpdir, exist_ok=True)
    path = os.path.join(tmpdir, fname)
    with gzip.open(path, "wt") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    return path


def _mk_events(n: int, start_id: int = 0) -> list[dict]:
    sources = ["clicks", "tweets"]
    return [
        {
            "event_id": start_id + i,
            "ts": f"2024-01-01T{(i % 24):02d}:00:00.000",
            "user_id": i % 7,
            "event_type": sources[i % 2],
            "value": float(i),
            "props": json.dumps({"k": i}),
        }
        for i in range(n)
    ]


@pytest.fixture()
def paths(tmp_path):
    return {
        "staging": str(tmp_path / "staging"),
        "lake": str(tmp_path / "lake"),
        "catalog": str(tmp_path / "catalog"),
        "delivery": str(tmp_path / "delivery"),
        "checkpoint": str(tmp_path / "checkpoint"),
    }


def test_batch_ingest_partitions_and_catalogs(spark, paths):
    _write_staging(paths["staging"], _mk_events(100))
    res = ingest.ingest_batch(
        spark, paths["staging"], paths["lake"], paths["catalog"], paths["delivery"], "b0"
    )
    assert res["n_events"] == 100

    # R4: hive-partitioned per-source layout on disk
    parts = sorted(os.path.basename(p) for p in glob.glob(paths["lake"] + "/source=*"))
    assert parts == ["source=clicks", "source=tweets"]

    # R9: one catalog row per source for the batch, counts add up
    cat = ingest.read_catalog(spark, paths["catalog"])
    rows = {r["source"]: r for r in cat.collect()}
    assert set(rows) == {"clicks", "tweets"}
    assert sum(r["n_records"] for r in rows.values()) == 100
    assert all(r["file_key"].startswith(r["source"] + "/") for r in rows.values())

    # R11: every record delivered to its source partition
    delivered = spark.read.parquet(paths["delivery"])
    assert delivered.count() == 100
    by_src = {r["source"]: r["n"] for r in delivered.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src == {"clicks": 50, "tweets": 50}

    # partition pruning is actually in the plan (the DynamoDB-pk analog)
    pruned = spark.read.parquet(paths["lake"]).where(F.col("source") == "clicks")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(source" in plan


def test_catalog_range_predicates_reach_parquet(spark, paths):
    """The engine-written catalog has real TIMESTAMP columns, so the
    replay BETWEEN reaches the parquet scan as pushed min/max filters
    AND the source EQ prunes partitions — the DynamoDB pk+sk analog
    (SURVEY.md §4). (The driver fixtures store ns timestamps that need
    a conversion, which blocks pushdown there — the engine's own lake
    layout is what matters at scale.)"""
    _write_staging(paths["staging"], _mk_events(50))
    ingest.ingest_batch(spark, paths["staging"], paths["lake"], paths["catalog"], None, "b0")
    keys = replay.select_replay_keys(
        spark, paths["catalog"], "clicks", "2000-01-01", "2100-01-01"
    )
    # plan metadata defaults to 100-char truncation, which can hide
    # the second pushed filter
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = keys._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "PartitionFilters: [isnotnull(source" in plan
    assert "GreaterThanOrEqual(ingest_ts" in plan and "LessThanOrEqual(ingest_ts" in plan


def test_csv_roundtrip(spark, tmp_path, sf_dir):
    from serverless_datalake_spark.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    lake.write_csv(nation, str(tmp_path / "nation_csv"))
    back = lake.read_csv(
        spark, str(tmp_path / "nation_csv"), "n_nationkey INT, n_name STRING, n_regionkey INT"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_replay_selects_exact_range_and_does_not_recatalog(spark, paths):
    # two batches at different ingest times
    _write_staging(paths["staging"], _mk_events(40), "part-0.json.gz")
    ingest.ingest_batch(spark, paths["staging"], paths["lake"], paths["catalog"], None, "b0")
    cat_after_b0 = ingest.read_catalog(spark, paths["catalog"]).collect()
    t_split = max(r["ingest_ts"] for r in cat_after_b0)

    staging2 = paths["staging"] + "2"
    _write_staging(staging2, _mk_events(60, start_id=1000), "part-1.json.gz")
    ingest.ingest_batch(spark, staging2, paths["lake"], paths["catalog"], None, "b1")

    n_cat_before = ingest.read_catalog(spark, paths["catalog"]).count()

    # R12: BETWEEN selects exactly the first batch's clicks entry
    keys = replay.select_replay_keys(
        spark, paths["catalog"], "clicks", "2000-01-01", t_split
    )
    assert keys.count() == 1
    assert keys.collect()[0]["file_key"] == "clicks/b0.parquet"

    # R13: replay delivers only batch b0's clicks events
    res = replay.replay(
        spark,
        paths["catalog"],
        paths["lake"],
        paths["delivery"],
        "clicks",
        "2000-01-01",
        t_split,
    )
    assert res["n_batches"] == 1
    assert res["n_events"] == 20  # 40 events, half clicks
    delivered = spark.read.parquet(paths["delivery"])
    assert delivered.count() == 20
    # re-delivery goes through the fan-out layout subscribers read
    reg = distribution.TopicRegistry(paths["delivery"])
    assert distribution.subscribe(spark, reg, "clicks").count() == res["n_events"]
    assert delivered.where(F.col("event_id") >= 1000).count() == 0

    # recorder:94-99 — replay writes NO new catalog entries
    assert ingest.read_catalog(spark, paths["catalog"]).count() == n_cat_before


def test_concatenated_json_parse_is_sound(spark, tmp_path):
    # the reference's at-rest format: concatenated objects, no delimiter
    # (SURVEY.md §1.3) — including a '}{' inside a string value, which
    # the reference's replace()-rewrite would corrupt and the old regex
    # split silently DROPPED; the raw_decode scanner parses it intact
    evs = _mk_events(3)
    evs[1]["props"] = json.dumps({"k": "}{tricky"})
    blob = "".join(json.dumps(e) for e in evs)
    p = tmp_path / "concat.json.gz"
    with gzip.open(p, "wt") as f:
        f.write(blob)
    parsed = lake.parse_concatenated_json(spark, str(p))
    rows = {r["event_id"]: r for r in parsed.collect()}
    assert sorted(rows) == [0, 1, 2]  # nothing dropped, nothing corrupted
    assert json.loads(rows[1]["props"]) == {"k": "}{tricky"}
    # whitespace-separated objects and a truncated tail: valid prefix
    # records survive, only the undecodable tail is discarded
    blob2 = (
        json.dumps(evs[0]) + "  " + json.dumps(evs[2]) + '{"event_id": 99, "trunc'
    )
    p3 = tmp_path / "concat2.json.gz"
    with gzip.open(p3, "wt") as f:
        f.write(blob2)
    got2 = sorted(
        r["event_id"] for r in lake.parse_concatenated_json(spark, str(p3)).collect()
    )
    assert got2 == [0, 2]
    # JSON-lines path parses everything including the tricky value
    p2 = tmp_path / "lines"
    _write_staging(str(p2), evs)
    assert lake.read_json_events(spark, str(p2)).count() == 3


def test_snapshot_read_as_of(spark, paths):
    """Time-travel: reading as-of an earlier catalog timestamp sees
    only the batches cataloged by then."""
    _write_staging(paths["staging"], _mk_events(30), "part-0.json.gz")
    ingest.ingest_batch(spark, paths["staging"], paths["lake"], paths["catalog"], None, "b0")
    t_after_b0 = max(
        r["ingest_ts"] for r in ingest.read_catalog(spark, paths["catalog"]).collect()
    )
    staging2 = paths["staging"] + "_2"
    _write_staging(staging2, _mk_events(50, start_id=1000), "part-1.json.gz")
    ingest.ingest_batch(spark, staging2, paths["lake"], paths["catalog"], None, "b1")

    snap = replay.read_lake_as_of(spark, paths["catalog"], paths["lake"], t_after_b0)
    assert snap.count() == 30
    assert snap.where(F.col("event_id") >= 1000).count() == 0
    full = spark.read.parquet(paths["lake"])
    assert full.count() == 80
    # selection is a distributed semi-join, not a driver-built literal
    # IN list (which would grow with catalog size)
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "Join LeftSemi" in plan or "BroadcastHashJoin" in plan
    assert "batch_id IN (" not in plan


def test_subscribe_reads_ingest_fanout_by_partition(spark, tmp_path):
    """E3 without overrides: a subscriber reads ingest's fan-out as its
    partition of the delivery root. Every record reaches exactly its
    source's subscriber, including null and empty sources (routed to
    __unknown__) and names that look like paths: Spark escapes them
    into one directory each, so nothing lands outside the root."""
    want = {"clicks": 6, "tweets": 5, "../../tmp/evil": 3, "ads/click": 2, "a:b": 1, "/etc/cron.d/x": 1}
    types = [t for t, n in want.items() for _ in range(n)] + [None] * 3 + [""]
    want["__unknown__"] = 4  # the 3 null event_types and the empty one
    evs = _mk_events(len(types))
    for e, t in zip(evs, types):
        e["event_type"] = t
    _write_staging(str(tmp_path / "stg"), evs)
    delivery = tmp_path / "delivery"
    res = ingest.ingest_batch(
        spark, str(tmp_path / "stg"), str(tmp_path / "lake"), str(tmp_path / "cat"), str(delivery), "b0"
    )
    assert res == {
        "n_events": len(evs),
        "n_sources": len(want),
        "n_quarantined": want["__unknown__"],
        "batch_id": "b0",
    }

    reg = distribution.TopicRegistry(str(delivery))
    got = {}
    for source in want:
        df = distribution.subscribe(spark, reg, source)
        got[source] = df.count()
        assert df.where(F.col("source") != source).count() == 0, source
    assert got == want
    assert sum(got.values()) == len(evs)

    # one escaped directory per source, all of them directly under the
    # delivery root; no other directory was created
    assert sorted(os.listdir(tmp_path)) == ["cat", "delivery", "lake", "stg"]
    topics = [d for d in os.listdir(delivery) if (delivery / d).is_dir()]
    assert len(topics) == len(want) and all(d.startswith("source=") for d in topics)
    for d in topics:
        assert all((delivery / d / f).is_file() for f in os.listdir(delivery / d))


def test_topic_registry_fanout_and_subscribe(spark, tmp_path):
    """E3 late binding: a source registered to another sink is read
    from that sink, with no change to the producer; unregistered
    sources still read their partition of the delivery root."""
    stg, lk, cat = (str(tmp_path / d) for d in ("stg", "lake", "cat"))
    delivery = str(tmp_path / "delivery")
    _write_staging(stg, _mk_events(80))
    ingest.ingest_batch(spark, stg, lk, cat, delivery, "b0")
    # a replay of clicks into a separate sink, registered as its topic
    sink = str(tmp_path / "special-clicks-sink")
    replay.replay(spark, cat, lk, sink, "clicks", "2000-01-01", "2100-01-01")

    reg = distribution.TopicRegistry(delivery)
    reg.register("clicks", sink)
    assert reg.resolve("clicks") == sink and reg.resolve("tweets") is None
    clicks = distribution.subscribe(spark, reg, "clicks")
    tweets = distribution.subscribe(spark, reg, "tweets")
    assert clicks.count() == 40 and tweets.count() == 40
    assert clicks.where(F.col("source") != "clicks").count() == 0
    assert tweets.where(F.col("source") != "tweets").count() == 0


def test_ingest_empty_staging_blob_counts_zero(spark, paths):
    _write_staging(paths["staging"], [])
    res = ingest.ingest_batch(
        spark, paths["staging"], paths["lake"], paths["catalog"], paths["delivery"], "b0"
    )
    assert res == {"n_events": 0, "n_sources": 0, "n_quarantined": 0, "batch_id": "b0"}


def test_ingest_without_delivery_counts_sources(spark, paths):
    """n_sources comes from the catalog rows written, so it is the
    batch's source count whether or not the batch is delivered."""
    _write_staging(paths["staging"], _mk_events(10))
    res = ingest.ingest_batch(
        spark, paths["staging"], paths["lake"], paths["catalog"], None, "b0"
    )
    assert res == {"n_events": 10, "n_sources": 2, "n_quarantined": 0, "batch_id": "b0"}
    assert not os.path.exists(paths["delivery"])


def test_json_gz_roundtrip_reference_format(spark, tmp_path, sf_dir):
    """R3 fidelity: events written as gzip JSON-lines partitioned by
    source read back losslessly through the schema-first reader."""
    from serverless_datalake_spark.tables import load_table

    e = (
        load_table(spark, sf_dir, "events")
        .limit(200)
        .withColumn("source", F.col("event_type"))
    )
    out = str(tmp_path / "export")
    lake.write_json_gz(e.drop("source"), out, partition_col=None)
    files = glob.glob(out + "/*.json.gz")
    assert files, "must write .json.gz parts"
    back = lake.read_json_events(spark, out)
    assert back.count() == 200
    a = {r["event_id"]: r["value"] for r in back.collect()}
    b = {r["event_id"]: r["value"] for r in e.collect()}
    assert a == b


def test_schema_evolution_merge(spark, tmp_path):
    """A later batch adds a column; mergeSchema read unions schemas
    and nulls the missing column for old rows."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode("append").parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(p)
    merged = lake.read_with_evolved_schema(spark, p)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_corrupt_json_rows_are_isolated_not_fatal(spark, tmp_path):
    """PERMISSIVE parsing: malformed rows become nulls instead of
    failing the job — at 100 TB a single bad record must never kill an
    ingest; the quarantine filter routes them aside."""
    p = tmp_path / "staging"
    os.makedirs(p, exist_ok=True)
    good = _mk_events(5)
    with gzip.open(p / "mixed.json.gz", "wt") as f:
        for e in good[:3]:
            f.write(json.dumps(e) + "\n")
        f.write('{"event_id": "not-a-number", "ts": "garbage"\n')  # malformed
        for e in good[3:]:
            f.write(json.dumps(e) + "\n")
    df = lake.read_json_events(spark, str(p))
    ok = df.where(F.col("event_id").isNotNull())
    bad = df.where(F.col("event_id").isNull())
    assert ok.count() == 5
    assert bad.count() == 1


def test_streaming_ingest_dedup_and_catalog(spark, paths):
    # at-least-once input: 120 events, 20 exact re-deliveries (§1.4)
    evs = _mk_events(100)
    _write_staging(paths["staging"], evs + evs[:20], "part-0.json.gz")
    streaming_pipeline.run_ingest_available_now(
        spark,
        paths["staging"],
        paths["lake"],
        paths["catalog"],
        paths["delivery"],
        paths["checkpoint"],
    )
    landed = spark.read.parquet(paths["lake"])
    assert landed.count() == 100  # duplicates dropped by the state store
    assert landed.select("event_id").distinct().count() == 100

    cat = ingest.read_catalog(spark, paths["catalog"])
    assert {r["source"] for r in cat.collect()} == {"clicks", "tweets"}
    assert cat.agg(F.sum("n_records")).collect()[0][0] == 100

    # restartability: draining again with the same checkpoint is a no-op
    streaming_pipeline.run_ingest_available_now(
        spark,
        paths["staging"],
        paths["lake"],
        paths["catalog"],
        paths["delivery"],
        paths["checkpoint"],
    )
    assert spark.read.parquet(paths["lake"]).count() == 100


def test_streaming_null_source_is_catalogued_as_unknown(spark, paths):
    """The streaming ingest routes a null event_type to __unknown__ as
    the batch ingest does: a NULL source would give its catalog row a
    NULL file_key, which no replay can select."""
    evs = _mk_events(10)
    evs[3]["event_type"] = None
    _write_staging(paths["staging"], evs)
    streaming_pipeline.run_ingest_available_now(
        spark,
        paths["staging"],
        paths["lake"],
        paths["catalog"],
        None,
        paths["checkpoint"],
    )
    cat = ingest.read_catalog(spark, paths["catalog"])
    unknown = cat.where(F.col("source") == "__unknown__").collect()
    assert len(unknown) == 1 and unknown[0]["n_records"] == 1
    assert unknown[0]["file_key"] is not None
    assert cat.where(F.col("file_key").isNull()).count() == 0


def test_null_source_routes_to_quarantine_not_crash(spark, tmp_path):
    """A record missing event_type (null source) must land in an
    explicit __unknown__ partition/topic — not a NULL Hive partition
    that no catalog key or subscriber filter can ever match."""
    evs = _mk_events(6)
    evs[2]["event_type"] = None
    staging = str(tmp_path / "staging")
    _write_staging(staging, evs)
    out = ingest.ingest_batch(
        spark,
        staging,
        str(tmp_path / "lake"),
        str(tmp_path / "cat"),
        str(tmp_path / "deliv"),
        "b0",
    )
    assert out["n_events"] == 6
    lakedf = spark.read.parquet(str(tmp_path / "lake"))
    assert lakedf.where(F.col("source") == "__unknown__").count() == 1
    assert lakedf.count() == 6  # conservation incl. the null-source row

    # the quarantine source is an ordinary topic for subscribers
    reg = distribution.TopicRegistry(str(tmp_path / "deliv"))
    assert distribution.subscribe(spark, reg, "__unknown__").count() == 1


def test_deliver_quarantines_unsafe_source_names_atomically(spark, tmp_path):
    """Delivery of a batch mixing a safe, a traversal-shaped and a null
    source is one partitioned write: no exception, nothing
    half-delivered, the null row in the __unknown__ quarantine topic,
    the unsafe name kept as one escaped directory under the root, and
    every row delivered exactly once."""
    batch = spark.createDataFrame(
        [(1, "clicks", 1.0), (2, "../../tmp/evil", 2.0), (3, None, 3.0)],
        "event_id long, event_type string, value double",
    )
    root = tmp_path / "topics"
    ingest.fan_out(ingest.with_source(batch, "event_type"), str(root))

    assert sorted(os.listdir(tmp_path)) == ["topics"]
    reg = distribution.TopicRegistry(str(root))
    ids = {
        s: sorted(r["event_id"] for r in distribution.subscribe(spark, reg, s).collect())
        for s in ("clicks", "../../tmp/evil", "__unknown__")
    }
    assert ids == {"clicks": [1], "../../tmp/evil": [2], "__unknown__": [3]}
    assert spark.read.parquet(str(root)).count() == 3


def test_concatenated_json_resyncs_after_midline_corruption(spark, tmp_path):
    """A decode error mid-line must not drop the valid objects after
    it: the scanner skips to the next '{' and retries, losing only the
    genuinely undecodable bytes (the round-6 advisor's finding)."""
    evs = _mk_events(3)
    blob = (
        json.dumps(evs[0])
        + '{"event_id": 98, "broken'  # corrupt object, no closing brace
        + json.dumps(evs[1])
        + json.dumps(evs[2])
    )
    p = tmp_path / "corrupt-mid.json.gz"
    with gzip.open(p, "wt") as f:
        f.write(blob)
    got = sorted(
        r["event_id"] for r in lake.parse_concatenated_json(spark, str(p)).collect()
    )
    assert got == [0, 1, 2]


def test_topic_registry_rejects_unsafe_source_names(spark, tmp_path):
    """Topic names come from event DATA: a traversal or absolute name
    must not resolve to a read location outside the topics root. The
    registry builds no path from a name; only operator-registered
    overrides resolve to a path."""
    root = tmp_path / "topics"
    spark.createDataFrame([(1, "clicks")], "event_id long, source string").write.partitionBy(
        "source"
    ).parquet(str(root))
    # a table planted where the traversal name would point
    spark.createDataFrame([(9,)], "event_id long").write.parquet(str(tmp_path / "evil"))

    reg = distribution.TopicRegistry(str(root))
    for bad in ("../evil", str(tmp_path / "evil"), "a/../../b", ""):
        assert reg.resolve(bad) is None
        assert distribution.subscribe(spark, reg, bad).count() == 0
    # explicit overrides are operator-configured, not data — allowed
    reg.register("weird", "/elsewhere/ok")
    assert reg.resolve("weird") == "/elsewhere/ok"
    assert distribution.subscribe(spark, reg, "clicks").count() == 1


def test_replay_batch_keys_survive_slash_in_source(spark):
    """file_key is '{source}/{batch}.parquet'; the batch id is the
    LAST segment — splitting on the first '/' broke sources containing
    '/' (selected nothing, silently)."""
    from serverless_datalake_spark.sources.replay import _batch_id_keys

    rows = spark.createDataFrame(
        [("ads/click/b0.parquet",), ("tweets/b1.parquet",)], "file_key string"
    )
    got = sorted(r["batch_id"] for r in _batch_id_keys(rows).collect())
    assert got == ["b0", "b1"]


def test_replay_requires_batch_ids(spark, tmp_path):
    """A lake without batch_id cannot honor a replay interval — raise
    instead of silently re-delivering the source's entire history."""
    import datetime as dt

    import pytest as _pytest

    from serverless_datalake_spark.sources import replay as rp

    # a lake written WITHOUT batch ids
    df = spark.createDataFrame(
        [(1, "clicks", "2024-01-01 01:00:00")], "event_id long, source string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.partitionBy("source").parquet(str(tmp_path / "lake"))
    # a catalog selecting one batch
    cat = spark.createDataFrame(
        [("clicks", "2024-01-01 00:30:00", "clicks/b0.parquet", 1)],
        "source string, ingest_ts string, file_key string, n_records long",
    ).withColumn("ingest_ts", F.col("ingest_ts").cast("timestamp"))
    cat.write.partitionBy("source").parquet(str(tmp_path / "cat"))
    with _pytest.raises(ValueError, match="no batch_id"):
        rp.replay(
            spark,
            str(tmp_path / "cat"),
            str(tmp_path / "lake"),
            str(tmp_path / "deliv"),
            "clicks",
            dt.datetime(2024, 1, 1),
            dt.datetime(2024, 1, 2),
        )


def test_ingest_counts_quarantined_records(spark, paths):
    """n_quarantined is the number of records routed to the quarantine
    source: null, empty and unparseable event types alike, and equal
    to the quarantine source's catalog n_records."""
    evs = _mk_events(8)
    evs[1]["event_type"] = None
    evs[4]["event_type"] = ""
    os.makedirs(paths["staging"], exist_ok=True)
    with gzip.open(os.path.join(paths["staging"], "part-0.json.gz"), "wt") as f:
        for e in evs:
            f.write(json.dumps(e) + "\n")
        f.write('{"event_id": 99, "event_type": "clicks", "ts":\n')  # malformed
    res = ingest.ingest_batch(
        spark, paths["staging"], paths["lake"], paths["catalog"], paths["delivery"], "b0"
    )
    assert res["n_events"] == 9 and res["n_quarantined"] == 3
    cat = ingest.read_catalog(spark, paths["catalog"])
    unknown = cat.where(F.col("source") == ingest.QUARANTINE_SOURCE).collect()
    assert [r["n_records"] for r in unknown] == [3]


def _jobs_after(sc, job_id: int) -> list:
    """Status-store records of the jobs with an id above ``job_id``."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return [jobs.apply(i) for i in range(jobs.size()) if jobs.apply(i).jobId() > job_id]


def _clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_concurrent_sinks_keep_the_callers_job_group(spark, paths):
    """Every job that ingest_batch and replay run, on whatever thread,
    carries the caller's job group, so it can be cancelled and
    attributed with the caller's other work."""
    sc = spark.sparkContext
    _write_staging(paths["staging"], _mk_events(20))
    last = max((j.jobId() for j in _jobs_after(sc, -1)), default=-1)
    sc.setJobGroup("g", "concurrent sinks")
    try:
        with warnings.catch_warnings():
            # without the session, thread wrapping drops the tags
            warnings.filterwarnings("error", message=".*Tags will not be inherited")
            ingest.ingest_batch(
                spark, paths["staging"], paths["lake"], paths["catalog"], paths["delivery"], "b0"
            )
            res = replay.replay(
                spark,
                paths["catalog"],
                paths["lake"],
                paths["delivery"] + "2",
                "clicks",
                "2000-01-01",
                "2100-01-01",
            )
    finally:
        _clear_job_group(sc)
    assert res == {"n_batches": 1, "n_events": 10}
    jobs = _jobs_after(sc, last)
    assert len(jobs) >= 5  # three ingest sinks, replay's catalog totals and fan-out
    assert sorted(j.jobId() for j in jobs) == sorted(
        j for j in sc.statusTracker().getJobIdsForGroup("g") if j > last
    )


def _files_under(root: str) -> list[str]:
    return [os.path.join(b, n) for b, _, names in os.walk(root) for n in names]


def test_ingest_lake_failure_writes_no_catalog_or_delivery(spark, paths):
    """Catalog rows and deliveries are published only once the lake has
    committed: a failed lake write leaves no catalog row naming missing
    data, no delivery a retry would duplicate, and no persisted batch."""
    _write_staging(paths["staging"], _mk_events(10))
    pathlib.Path(paths["lake"]).write_text("not a directory")
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception) as err:
        ingest.ingest_batch(
            spark, paths["staging"], paths["lake"], paths["catalog"], paths["delivery"], "b0"
        )
    assert paths["lake"] in str(err.value)
    assert _files_under(paths["catalog"]) == []
    assert _files_under(paths["delivery"]) == []
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_ingest_sink_failure_is_raised_after_the_other_sinks(spark, paths):
    """A failing catalog write is raised only after the lake and the
    delivery writes have finished: the lake keeps its committed rows,
    the staged delivery is dropped unpublished, no job is left running
    and the batch is unpersisted."""
    sc = spark.sparkContext
    _write_staging(paths["staging"], _mk_events(10))
    pathlib.Path(paths["catalog"]).write_text("not a directory")
    persisted = sc._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception) as err:
        ingest.ingest_batch(
            spark, paths["staging"], paths["lake"], paths["catalog"], paths["delivery"], "b0"
        )
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    assert paths["catalog"] in str(err.value)
    assert spark.read.parquet(paths["lake"]).count() == 10
    assert _files_under(paths["delivery"]) == []
    assert sc._jsc.getPersistentRDDs().size() == persisted


def test_spark_threads_only_through_concurrently():
    """Concurrent Spark actions go through ingest.concurrently, which
    carries the caller's job group and tags into its threads; a bare
    ThreadPoolExecutor or Thread elsewhere in the package would run
    jobs outside them."""
    pkg = pathlib.Path(ingest.__file__).resolve().parents[1]
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.resolve() == pathlib.Path(ingest.__file__).resolve():
            helper = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "concurrently"
            )
            allowed = {id(n) for n in ast.walk(helper)}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or id(node) in allowed:
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in ("ThreadPoolExecutor", "Thread"):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == []


def test_tables_of_an_empty_batch_read_as_empty(spark, paths):
    """A lake whose only batch was empty has no data file to infer a
    schema from; the engine reads its tables with their own schemas,
    so every read returns nothing instead of failing."""
    _write_staging(paths["staging"], [])
    ingest.ingest_batch(
        spark, paths["staging"], paths["lake"], paths["catalog"], paths["delivery"], "b0"
    )
    assert ingest.read_catalog(spark, paths["catalog"]).count() == 0
    res = replay.replay(
        spark, paths["catalog"], paths["lake"], paths["delivery"], "clicks", "2000-01-01", "2100-01-01"
    )
    assert res == {"n_batches": 0, "n_events": 0}
    assert replay.read_lake_as_of(spark, paths["catalog"], paths["lake"], "2100-01-01").count() == 0
    reg = distribution.TopicRegistry(paths["delivery"])
    assert distribution.subscribe(spark, reg, "clicks").count() == 0


def test_reading_engine_tables_launches_no_job(spark, paths):
    """The engine's tables are read with their fixed schemas: building
    a read of the catalog, the lake or the delivery root runs no Spark
    job (schema inference would run one per table to read a footer)."""
    sc = spark.sparkContext
    _write_staging(paths["staging"], _mk_events(20))
    ingest.ingest_batch(
        spark, paths["staging"], paths["lake"], paths["catalog"], paths["delivery"], "b0"
    )
    sc.setJobGroup("schema-first-reads", "reads without an action")
    try:
        ingest.read_catalog(spark, paths["catalog"])
        lake.read_lake(spark, paths["lake"])
        distribution.subscribe(spark, distribution.TopicRegistry(paths["delivery"]), "clicks")
        replay.read_lake_as_of(spark, paths["catalog"], paths["lake"], "2100-01-01")
    finally:
        _clear_job_group(sc)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("schema-first-reads")) == []


def _sorted_rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("writer", ["batch", "streaming"])
def test_schema_constants_match_what_the_writers_produce(spark, paths, writer):
    """LAKE_SCHEMA and CATALOG_SCHEMA describe what ingest writes: for
    the lake, the catalog and the delivery root, in the batch layout
    and in the streaming one (which adds a batch_id partition to every
    sink), the schema-first read returns the same columns, types and
    rows as reading the schema from the files."""
    evs = _mk_events(30)
    evs[3]["event_type"] = None
    _write_staging(paths["staging"], evs)
    if writer == "batch":
        ingest.ingest_batch(
            spark, paths["staging"], paths["lake"], paths["catalog"], paths["delivery"], "b0"
        )
    else:
        streaming_pipeline.run_ingest_available_now(
            spark, paths["staging"], paths["lake"], paths["catalog"], paths["delivery"], paths["checkpoint"]
        )
    tables = {
        "lake": lake.read_lake(spark, paths["lake"]),
        "catalog": ingest.read_catalog(spark, paths["catalog"]),
        "delivery": lake.read_lake(spark, paths["delivery"]),
    }
    for name, fixed in tables.items():
        inferred = spark.read.parquet(paths[name])
        assert [(f.name, f.dataType) for f in fixed.schema] == [
            (f.name, f.dataType) for f in inferred.schema
        ], name
        assert _sorted_rows(fixed) == _sorted_rows(inferred), name
        assert fixed.count() == (3 if name == "catalog" else 30), name


def test_replay_raises_when_catalogued_rows_are_missing(spark, paths):
    """Replay checks that it re-delivered every record the selected
    catalog rows count: with a data file of a selected batch gone from
    the lake it raises, naming both numbers, instead of re-delivering a
    silent subset."""
    import pyarrow.parquet as pq

    _write_staging(paths["staging"], _mk_events(40), "part-0.json.gz")
    ingest.ingest_batch(spark, paths["staging"], paths["lake"], paths["catalog"], None, "b0")
    b0_files = sorted(glob.glob(paths["lake"] + "/source=clicks/*.parquet"))
    staging2 = paths["staging"] + "2"
    _write_staging(staging2, _mk_events(60, start_id=1000), "part-1.json.gz")
    ingest.ingest_batch(spark, staging2, paths["lake"], paths["catalog"], None, "b1")

    lost = pq.ParquetFile(b0_files[0]).metadata.num_rows
    assert lost > 0
    os.remove(b0_files[0])
    with pytest.raises(ValueError, match=f"delivered {50 - lost} events .* records 50 ") as err:
        replay.replay(
            spark, paths["catalog"], paths["lake"], paths["delivery"], "clicks", "2000-01-01", "2100-01-01"
        )
    assert "no batch_id" in str(err.value)
