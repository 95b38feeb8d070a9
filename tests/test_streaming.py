"""True streaming-mode tests (M4): windowed aggregation under
readStream must equal the batch F.window result once the stream
drains; watermark semantics drop only late-beyond-bound data."""

from __future__ import annotations

import gzip
import json
import os

from pyspark.sql import functions as F

from serverless_datalake_spark.sources.lake import EVENTS_JSON_SCHEMA
from serverless_datalake_spark.streaming import pipeline as sp


def _write(dirpath, events, fname):
    os.makedirs(dirpath, exist_ok=True)
    with gzip.open(os.path.join(dirpath, fname), "wt") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _evts(n, hour_of, start_id=0):
    return [
        {
            "event_id": start_id + i,
            "ts": f"2024-01-01T{hour_of(i):02d}:{i % 60:02d}:00.000",
            "user_id": i % 5,
            "event_type": "clicks" if i % 2 == 0 else "tweets",
            "value": 1.0,
            "props": "{}",
        }
        for i in range(n)
    ]


def test_streaming_window_counts_match_batch(spark, tmp_path):
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # two files → two-ish micro-batches via maxFilesPerTrigger
    _write(staging, _evts(60, lambda i: i % 4), "a.json.gz")
    _write(staging, _evts(60, lambda i: (i % 4) + 4, start_id=1000), "b.json.gz")

    stream = sp.read_event_stream(spark, staging, dedup=False)
    agg = sp.windowed_counts_stream(stream, "1 hour")
    q = (
        agg.select(
            "source", F.col("window.start").alias("ws"), "n", "sum_value"
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["source"], r["ws"], r["n"]) for r in spark.read.parquet(out).collect()
    }
    # batch twin over the same files
    batch = (
        spark.read.schema(EVENTS_JSON_SCHEMA)
        .json(staging)
        .withColumn("source", F.col("event_type"))
        .groupBy("source", F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    want = {
        (r["source"], r["window"]["start"], r["n"]) for r in batch.collect()
    }
    # append mode emits only watermark-closed windows; with availableNow
    # draining everything, the final watermark closes all but the last
    # window(s) — emitted results must be a subset with identical counts
    assert got <= want
    assert len(got) >= len(want) - 4  # at most the tail windows pending


def test_batch_replay_is_idempotent(spark, tmp_path):
    """Re-running a micro-batch (the crash-recovery path) replaces its
    whole contribution to the lake, the delivery and the catalog: it
    is not duplicated, and no source the re-run no longer has is left
    behind, down to an empty re-run. Other batches are untouched."""
    staging = str(tmp_path / "st")
    lake_p, cat_p, deliv_p = (str(tmp_path / d) for d in ("lk", "ct", "dl"))
    _write(staging, _evts(30, lambda i: 1), "a.json.gz")
    batch = (
        spark.read.schema(EVENTS_JSON_SCHEMA)
        .json(staging)
        .withColumn("source", F.col("event_type"))
    )

    def by_batch_and_source(path, value, batch_id=F.col("batch_id")):
        df = spark.read.parquet(path).groupBy(batch_id.alias("b"), "source").agg(value.alias("n"))
        return {(r["b"], r["source"]): r["n"] for r in df.collect()}

    def check(b0: dict) -> None:
        want = {("b000000000000", s): n for s, n in b0.items()}
        want[("b000000000001", "tweets")] = 15
        assert by_batch_and_source(lake_p, F.count("*")) == want
        assert by_batch_and_source(deliv_p, F.count("*")) == want
        # a catalog row names its batch in file_key, <source>/<batch_id>.parquet
        file_key_batch = F.regexp_extract("file_key", r"([^/]+)\.parquet$", 1)
        assert by_batch_and_source(cat_p, F.sum("n_records"), file_key_batch) == want

    def record(df, batch_id: int) -> None:
        sp.record_micro_batch(df, batch_id, lake_p, cat_p, deliv_p)

    record(batch, 0)
    record(batch.where(F.col("source") == "tweets"), 1)
    check({"clicks": 15, "tweets": 15})
    record(batch, 0)
    check({"clicks": 15, "tweets": 15})  # replaced, not duplicated
    record(batch.where(F.col("source") == "clicks"), 0)
    check({"clicks": 15})  # no stale tweets partition
    record(batch.limit(0), 0)
    check({})


def test_stream_stream_join_matches_batch_join(spark, tmp_path):
    """Stream-stream time-range join drained with availableNow must
    produce exactly the batch join's rows."""
    ev_dir = str(tmp_path / "ev")
    en_dir = str(tmp_path / "en")
    out = str(tmp_path / "joined")
    ckpt = str(tmp_path / "ck")
    _write(ev_dir, _evts(40, lambda i: i % 3), "ev.json.gz")
    # enrichment stream: same schema, 'tag' carried in props-free col via event_type
    _write(en_dir, _evts(20, lambda i: i % 3, start_id=9000), "en.json.gz")

    ev_stream = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA).json(ev_dir)
    )
    en_stream = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .json(en_dir)
        .withColumn("tag", F.col("event_type"))
    )
    joined = sp.stream_stream_enrich(ev_stream, en_stream, key="user_id", max_skew="1 hour")
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["event_id"], r["tag"], r["x_ts"]) for r in spark.read.parquet(out).collect()
    }

    ev_b = spark.read.schema(EVENTS_JSON_SCHEMA).json(ev_dir)
    en_b = (
        spark.read.schema(EVENTS_JSON_SCHEMA)
        .json(en_dir)
        .select(F.col("user_id").alias("u2"), F.col("ts").alias("x_ts"), F.col("event_type").alias("tag"))
    )
    batch = ev_b.join(
        en_b,
        (ev_b.user_id == F.col("u2"))
        & (F.col("x_ts") >= ev_b.ts - F.expr("INTERVAL 1 hour"))
        & (F.col("x_ts") <= ev_b.ts + F.expr("INTERVAL 1 hour")),
    )
    want = {
        (r["user_id"], r["event_id"], r["tag"], r["x_ts"]) for r in batch.collect()
    }
    assert got == want and got


def test_late_data_beyond_watermark_is_dropped_from_windows(spark, tmp_path):
    """Append-mode windowed aggregation across two drains of the same
    checkpointed query: a row older than the carried watermark must
    NOT re-open its (already emitted) window; fresh rows still count."""
    staging = str(tmp_path / "stg")
    out = str(tmp_path / "win")
    ckpt = str(tmp_path / "ck")

    def run_drain():
        stream = sp.read_event_stream(spark, staging, dedup=False, watermark="10 minutes")
        q = (
            sp.windowed_counts_stream(stream, "1 hour")
            .select("source", F.col("window.start").alias("ws"), "n")
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", out)
            .start()
        )
        q.awaitTermination()

    # drain 1: hours 0..9 → watermark lands near 09:xx, windows 0..8 emitted
    _write(staging, _evts(100, lambda i: i % 10), "a.json.gz")
    run_drain()
    first = {(r["ws"], r["n"]) for r in spark.read.parquet(out).collect()}
    assert first, "first drain must emit closed windows"

    # drain 2: one VERY late row (hour 0) + fresh rows (hours 10..11)
    _write(
        staging,
        _evts(1, lambda i: 0, start_id=5000) + _evts(20, lambda i: 10 + i % 2, start_id=6000),
        "b.json.gz",
    )
    run_drain()
    second = {(r["ws"], r["n"]) for r in spark.read.parquet(out).collect()}
    new_rows = second - first
    hours = {ws.hour for ws, _ in new_rows}
    assert 0 not in hours, f"late hour-0 row must be dropped, got {sorted(hours)}"
    assert {10, 11} & hours, "fresh windows must be emitted"


def test_watermark_drops_only_beyond_bound(spark, tmp_path):
    staging = str(tmp_path / "staging2")
    lake_p = str(tmp_path / "lake2")
    cat_p = str(tmp_path / "cat2")
    ckpt = str(tmp_path / "ckpt2")
    evs = _evts(40, lambda i: 10)
    # a duplicate redelivery within the same batch → dropped
    _write(staging, evs + evs[:5], "a.json.gz")
    sp.run_ingest_available_now(spark, staging, lake_p, cat_p, None, ckpt)
    assert spark.read.parquet(lake_p).count() == 40


def test_stream_static_enrich_matches_batch_join(spark, tmp_path):
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write(staging, _evts(80, lambda i: i % 6), "a.json.gz")
    _write(staging, _evts(40, lambda i: (i % 6) + 6, start_id=500), "b.json.gz")
    # static dim: user_id → segment (one user deliberately missing so
    # the left join's null path is exercised)
    dim = spark.createDataFrame(
        [(0, "free"), (1, "pro"), (2, "pro"), (3, "enterprise")],
        ["user_id", "segment"],
    )

    stream = sp.read_event_stream(spark, staging, dedup=False)
    q = (
        sp.stream_static_enrich(stream, dim)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["event_id"], r["segment"]) for r in spark.read.parquet(out).collect()
    }
    batch = (
        spark.read.schema(EVENTS_JSON_SCHEMA)
        .json(staging)
        .withColumn("source", F.col("event_type"))
        .join(dim, "user_id", "left")
    )
    want = {(r["event_id"], r["segment"]) for r in batch.collect()}
    assert got == want          # every event delivered exactly once
    assert any(seg is None for _, seg in got)  # user 4 unmatched → null


def test_streaming_topk_matches_batch_topk(spark, tmp_path):
    """The foreachBatch leaderboard must agree with the batch top-k on
    every window it emits (append mode → closed windows only), with at
    most k rows per window and a deterministic tie-break."""
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "topk_out")
    ckpt = str(tmp_path / "topk_ckpt")
    _write(staging, _evts(80, lambda i: i % 5), "a.json.gz")
    _write(staging, _evts(80, lambda i: (i % 3) + 2, start_id=2000), "b.json.gz")

    stream = sp.read_event_stream(spark, staging, dedup=False)
    q = sp.start_windowed_topk_query(stream, out, ckpt, k=3)
    q.awaitTermination()

    got = {
        (r["ws"], r["rank"]): (r["source"], r["n"])
        for r in spark.read.parquet(out).collect()
    }
    per_window: dict = {}
    for (ws, rank), v in got.items():
        per_window.setdefault(ws, []).append(rank)
    for ws, ranks in per_window.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3

    from pyspark.sql import Window as W

    batch = (
        spark.read.schema(EVENTS_JSON_SCHEMA)
        .json(staging)
        .withColumn("source", F.col("event_type"))
        .groupBy("source", F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select("source", F.col("window.start").alias("ws"), "n")
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("ws").orderBy(F.col("n").desc(), "source")
            ),
        )
        .where(F.col("rank") <= 3)
    )
    want = {(r["ws"], r["rank"]): (r["source"], r["n"]) for r in batch.collect()}
    assert got, "stream must emit at least the early closed windows"
    for key, v in got.items():
        assert want.get(key) == v, (key, v, want.get(key))


def test_streaming_dedup_admission_across_batches(spark, tmp_path):
    """Cross-batch content dedup with exactly-once admission: a doc
    admitted in batch 1 must not be re-admitted when batch 2 carries
    the same text under a new id; within a batch the smallest id wins;
    an all-duplicate batch still records its batch id (replay no-op)."""
    import json
    import os

    from pyspark.sql import functions as F

    from serverless_datalake_spark.sources import txlog
    from serverless_datalake_spark.streaming.pipeline import (
        start_dedup_admission_query,
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    table = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # batch 1: two distinct texts + an in-batch duplicate (id 3 loses to 1)
    write_batch("b1.json", [
        {"doc_id": 1, "text": "alpha beta"},
        {"doc_id": 2, "text": "gamma delta"},
        {"doc_id": 3, "text": "alpha beta"},
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string").json(str(src))
    )
    q = start_dedup_admission_query(stream, table, ckpt)
    q.awaitTermination(120)

    admitted = txlog.txlog_read(spark, table)
    assert sorted(r["doc_id"] for r in admitted.collect()) == [1, 2]

    # batch 2: one cross-batch duplicate (new id, admitted text) + one new
    write_batch("b2.json", [
        {"doc_id": 10, "text": "alpha beta"},
        {"doc_id": 11, "text": "epsilon zeta"},
    ])
    q = start_dedup_admission_query(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        table, ckpt,
    )
    q.awaitTermination(120)
    admitted = txlog.txlog_read(spark, table)
    ids = sorted(r["doc_id"] for r in admitted.collect())
    assert ids == [1, 2, 11], ids

    # batch 3: all duplicates — admission is empty but the commit exists
    write_batch("b3.json", [{"doc_id": 20, "text": "gamma delta"}])
    q = start_dedup_admission_query(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        table, ckpt,
    )
    q.awaitTermination(120)
    admitted = txlog.txlog_read(spark, table)
    assert sorted(r["doc_id"] for r in admitted.collect()) == [1, 2, 11]
    n_batches = len(txlog.committed_batch_ids(table))
    assert n_batches == 3, n_batches


def test_python_streaming_datasource_exactly_once_restart(spark, tmp_path):
    """Spark 4 Python streaming DataSource (sources/pyds_stream): the
    offset contract must deliver each seq exactly once ACROSS a
    query restart from the same checkpoint — run 1 drains a
    limit=10 feed, run 2 restarts with limit=20 and must append only
    seq 10..19 (the WAL resumes at the committed offset; no skips,
    no duplicates)."""
    from serverless_datalake_spark.sources import pyds_stream

    pyds_stream.register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once(limit):
        q = (
            spark.readStream.format("counter_events")
            .option("batch", "3")
            .option("limit", str(limit))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def drain(limit):
        # each AvailableNow run snapshots ONE read() range (the simple
        # reader's prefetch), so draining = restarting until the
        # committed offset stops advancing — every iteration is a
        # fresh query resuming from the checkpoint WAL, which is
        # exactly the restart path under test
        seen = -1
        for _ in range(12):
            run_once(limit)
            n = spark.read.parquet(out).count()
            if n == seen:
                break
            seen = n

    drain(10)
    first = sorted(r.seq for r in spark.read.parquet(out).collect())
    assert first == list(range(10)), first

    drain(20)
    rows = spark.read.parquet(out).collect()
    seqs = sorted(r.seq for r in rows)
    assert seqs == list(range(20)), seqs  # exactly-once: no dup, no gap
    payloads = {r.seq: r.payload for r in rows}
    assert payloads[7] == "evt-000007"


def test_stream_stream_left_outer_join_null_pads_after_watermark(spark, tmp_path):
    """Stream-stream LEFT OUTER time-range join: events with no
    enrichment match within ±1 hour must surface as NULL-padded rows
    once the watermark closes their join window (Structured Streaming
    delays outer results until the state store can PROVE no match can
    still arrive); matched rows must equal the batch join exactly."""
    ev_dir = str(tmp_path / "ev")
    en_dir = str(tmp_path / "en")
    out = str(tmp_path / "joined")
    ckpt = str(tmp_path / "ck")
    # 40 events over hours 0-2; only 10 enrichment rows, so many
    # events have no match within the hour and must null-pad. The
    # OUTER result for a row flushes only once the COMBINED watermark
    # (min over both sides) passes its eviction bound, and each side's
    # watermark trails its own max event time — so both streams get a
    # far-future sentinel row (user 999, excluded below) that drives
    # the watermark past all real data.
    sentinel = [{
        "event_id": 99990, "ts": "2024-01-03T00:00:00.000",
        "user_id": 999, "event_type": "clicks", "value": 1.0, "props": "{}",
    }]
    _write(ev_dir, _evts(40, lambda i: i % 3) + sentinel, "ev.json.gz")
    _write(en_dir, _evts(10, lambda i: i % 3, start_id=9000) + sentinel, "en.json.gz")

    ev_stream = spark.readStream.schema(EVENTS_JSON_SCHEMA).json(ev_dir)
    en_stream = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .json(en_dir)
        .withColumn("tag", F.col("event_type"))
    )
    joined = sp.stream_stream_enrich(
        ev_stream, en_stream, key="user_id", max_skew="1 hour", how="leftOuter"
    )
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    got = {
        (r["user_id"], r["event_id"], r["tag"], r["x_ts"])
        for r in rows
        if r["user_id"] != 999  # sentinel rows drive the watermark only
    }

    ev_b = spark.read.schema(EVENTS_JSON_SCHEMA).json(ev_dir)
    en_b = (
        spark.read.schema(EVENTS_JSON_SCHEMA)
        .json(en_dir)
        .select(
            F.col("user_id").alias("u2"),
            F.col("ts").alias("x_ts"),
            F.col("event_type").alias("tag"),
        )
    )
    batch = ev_b.join(
        en_b,
        (ev_b.user_id == F.col("u2"))
        & (F.col("x_ts") >= ev_b.ts - F.expr("INTERVAL 1 hour"))
        & (F.col("x_ts") <= ev_b.ts + F.expr("INTERVAL 1 hour")),
        "left_outer",
    )
    want = {
        (r["user_id"], r["event_id"], r["tag"], r["x_ts"])
        for r in batch.collect()
        if r["user_id"] != 999
    }
    assert got == want
    null_padded = {t for t in got if t[2] is None}
    matched = got - null_padded
    assert null_padded, "unmatched events must surface NULL-padded"
    assert matched, "matched events must keep their enrichment"


def test_txn_app_scoped_markers_do_not_cross_skip(spark, tmp_path):
    """Bare batch-id markers collide across independent queries (both
    number batches 0,1,2...) — an app-scoped marker must only dedup
    replays of ITS OWN pipeline, so a second pipeline's batch 0 is
    not silently dropped."""
    import gzip
    import json as _json
    import os

    from serverless_datalake_spark.sources import txlog
    from serverless_datalake_spark.streaming import pipeline as sp

    table = str(tmp_path / "table")

    def _stage(dirname: str, lo: int) -> str:
        d = str(tmp_path / dirname)
        os.makedirs(d)
        with gzip.open(os.path.join(d, "a.json.gz"), "wt") as f:
            for i in range(lo, lo + 10):
                f.write(_json.dumps({
                    "event_id": i, "ts": f"2024-01-01T0{i % 6}:00:00.000",
                    "user_id": i % 4, "event_type": "clicks", "value": 1.0,
                    "props": "{}",
                }) + "\n")
        return d

    s1 = _stage("st1", 0)
    q1 = sp.start_txlog_ingest_query(
        sp.read_event_stream(spark, s1, dedup=False),
        table, str(tmp_path / "ck1"), txn_app="pipeline-a",
    )
    q1.awaitTermination()
    assert txlog.txlog_read(spark, table).count() == 10

    # second INDEPENDENT pipeline, fresh checkpoint → its batch ids
    # also start at 0; with app-scoped markers its data must land
    s2 = _stage("st2", 100)
    q2 = sp.start_txlog_ingest_query(
        sp.read_event_stream(spark, s2, dedup=False),
        table, str(tmp_path / "ck2"), txn_app="pipeline-b",
    )
    q2.awaitTermination()
    assert txlog.txlog_read(spark, table).count() == 20

    # replay of pipeline-a against its own (drained) source + ckpt
    # still commits nothing new
    head = len(txlog._entries(table))
    q3 = sp.start_txlog_ingest_query(
        sp.read_event_stream(spark, s1, dedup=False),
        table, str(tmp_path / "ck1"), txn_app="pipeline-a",
    )
    q3.awaitTermination()
    assert len(txlog._entries(table)) == head

    # markers survive vacuum, per app
    txlog.txlog_vacuum(table, keep_versions=1)
    markers = txlog.committed_txn_markers(table)
    assert ("pipeline-a", 0) in markers and ("pipeline-b", 0) in markers
