"""Bucketed co-located joins (no Exchange in plan) and small-file
compaction (fewer files, identical data, pruning preserved)."""

from __future__ import annotations

import glob
import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from serverless_datalake_spark.sources import bucketed, ingest, lake, maintenance
from serverless_datalake_spark.tables import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bucketed.write_bucketed(li, "t_lineitem_b", "l_orderkey", 8)
    bucketed.write_bucketed(o, "t_orders_b", "o_orderkey", 8)
    # the auto heuristic may fall back to a non-bucketed scan on tiny
    # inputs, and at fixture size the planner would rather broadcast —
    # pin both so the plan shows the at-scale shape (bucketed SMJ)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed.bucketed_join(spark, "t_lineitem_b", "t_orders_b", "l_orderkey", "o_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan  # no shuffle
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2
        # correctness vs plain join
        assert j.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")


def test_ann_index_probe_is_pruned_and_matches_online_lsh(spark, sf_dir, tmp_path):
    from serverless_datalake_spark.operators import similarity as sim
    from serverless_datalake_spark.sources import indexes

    em = load_table(spark, sf_dir, "embeddings")
    q = em.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = em.where(F.col("vec_id") >= 10).select(F.col("vec_id").alias("corpus_id"), "embedding")

    path = str(tmp_path / "ann_index")
    indexes.build_ann_index(c, path)
    probed = indexes.probe_ann_index(spark, path, q, k=5)

    # the probe must be a partition-pruned scan on the bucket column
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan

    # and must return exactly what the online LSH computes
    online = sim.topk_lsh(q, c, k=5, n_planes=8, dim=64)
    got = sorted(map(tuple, probed.collect()))
    want = sorted(map(tuple, online.collect()))
    assert got == want


def test_dedup_index_incremental_probe(spark, sf_dir, tmp_path):
    """New docs probe the standing band index; a cloned doc must be
    flagged as a near-dup of its original at J=1.0."""
    from serverless_datalake_spark.sources import indexes

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    path = str(tmp_path / "dedup_index")
    indexes.build_dedup_index(docs, path, k=1)

    # "new" batch: clones of 5 existing docs under fresh ids
    clones = (
        docs.where(F.col("doc_id") < 5)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    hits = indexes.probe_dedup_index(
        spark, path, clones, threshold=0.99, k=1, corpus=docs
    )
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in hits.collect()}
    for i in range(5):
        assert (1_000_000 + i, i, 1.0) in got


def test_compaction_reduces_files_preserves_data(spark, tmp_path):
    staging = str(tmp_path / "staging")
    lake_path = str(tmp_path / "lake")
    cat = str(tmp_path / "cat")
    os.makedirs(staging, exist_ok=True)
    # 6 ingest batches → many small files in each source partition
    for b in range(6):
        fname = os.path.join(staging, f"part-{b}.json.gz")
        with gzip.open(fname, "wt") as f:
            for i in range(50):
                f.write(
                    json.dumps(
                        {
                            "event_id": b * 1000 + i,
                            "ts": f"2024-01-01T{i % 24:02d}:00:00.000",
                            "user_id": i % 5,
                            "event_type": "clicks" if i % 2 == 0 else "tweets",
                            "value": 1.0,
                            "props": "{}",
                        }
                    )
                    + "\n"
                )
        ingest.ingest_batch(spark, fname, lake_path, cat, None, f"b{b}")

    before = spark.read.parquet(lake_path)
    rows_before = sorted(r["event_id"] for r in before.collect())
    n_files_before, _ = maintenance.partition_file_stats(lake_path, "clicks")
    assert n_files_before >= 6

    stats = maintenance.compact_partition(spark, lake_path, "clicks")
    assert stats["files_after"] < stats["files_before"]

    after = spark.read.parquet(lake_path)
    assert sorted(r["event_id"] for r in after.collect()) == rows_before
    # other partition untouched by the dynamic overwrite
    tweets_files = glob.glob(os.path.join(lake_path, "source=tweets", "*.parquet"))
    assert len(tweets_files) >= 6
    # pruning still works post-compaction
    plan = (
        after.where(F.col("source") == "clicks")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(source" in plan


def test_compaction_keeps_batch_reruns_from_landing_twice(spark, tmp_path):
    """A commit's re-run finds the batch it replaces by the files'
    <batch_id>. prefix, which a compacted file, merging batches, lacks.
    Compaction leaves the newest batch alone, so its re-run still
    replaces it; a re-run of an older, merged batch raises and
    publishes nothing. Either way the lake rows equal the catalog's Σ
    n_records, and no checksum outlives its data file."""
    lake_path, cat = str(tmp_path / "lake"), str(tmp_path / "cat")
    blobs = []
    for b in range(3):
        blobs.append(str(tmp_path / f"b{b}.json.gz"))
        with gzip.open(blobs[-1], "wt") as f:
            for i in range(20):
                event = {"event_id": b * 100 + i, "event_type": ("clicks", "tweets")[i % 2]}
                f.write(json.dumps(event) + "\n")
        ingest.ingest_batch(spark, blobs[-1], lake_path, cat, None, f"b{b}")

    stats = maintenance.compact_partition(spark, lake_path, "clicks")
    assert stats["files_after"] < stats["files_before"]
    ingest.ingest_batch(spark, blobs[2], lake_path, cat, None, "b2")
    with pytest.raises(ValueError, match=r"'b0' was compacted .*source=clicks"):
        ingest.ingest_batch(spark, blobs[0], lake_path, cat, None, "b0")

    def by_source(df, value):
        return {r["source"]: r["n"] for r in df.groupBy("source").agg(value.alias("n")).collect()}

    want = {"clicks": 30, "tweets": 30}
    assert by_source(spark.read.parquet(lake_path), F.count("*")) == want
    assert by_source(ingest.read_catalog(spark, cat), F.sum("n_records")) == want
    pdir = os.path.join(lake_path, "source=clicks")
    for crc in glob.glob(os.path.join(pdir, ".*.crc")):
        assert os.path.exists(os.path.join(pdir, os.path.basename(crc)[1:-4])), crc


def test_replay_survives_compaction(spark, tmp_path):
    """Compaction merges older batches into files whose footers span
    several batch ids, so replay re-reads those files filtered to its
    batches, while it copies the newest batch's own files. A window
    over the compacted batches, over the uncompacted newest one, or
    over both re-delivers exactly its batches' rows."""
    import pyarrow.parquet as pq

    from serverless_datalake_spark.sources import replay

    lake_path, cat = str(tmp_path / "lake"), str(tmp_path / "cat")
    truth = {}
    for b in range(4):
        blob = str(tmp_path / f"b{b}.json.gz")
        with gzip.open(blob, "wt") as f:
            for i in range(10 + 4 * b):
                event = {"event_id": b * 100 + i, "event_type": ("clicks", "tweets")[i % 2]}
                f.write(json.dumps(event) + "\n")
        ingest.ingest_batch(spark, blob, lake_path, cat, None, f"b{b}")
        truth[f"b{b}"] = 5 + 2 * b

    maintenance.compact_partition(spark, lake_path, "clicks")
    footers = {
        os.path.basename(f): pq.read_metadata(f)
        for f in glob.glob(os.path.join(lake_path, "source=clicks", "*.parquet"))
    }
    # the compacted file's batch_id range spans b0..b2; b3's is [b3, b3]
    ranges = {lake.column_range(m, "batch_id") for m in footers.values()}
    assert ranges == {("b0", "b2", False), ("b3", "b3", False)}, ranges
    assert {replay._sole_batch(m) for m in footers.values()} == {None, "b3"}

    ingest_ts = {
        r["file_key"].split("/")[-1].split(".")[0]: r["ingest_ts"]
        for r in ingest.read_catalog(spark, cat).where(F.col("source") == "clicks").collect()
    }
    for window in (["b0", "b1"], ["b3"], ["b2", "b3"]):
        delivery = str(tmp_path / f"delivery-{'-'.join(window)}")
        res = replay.replay(
            spark, cat, lake_path, delivery, "clicks", ingest_ts[window[0]], ingest_ts[window[-1]]
        )
        want = {b: truth[b] for b in window}
        assert res == {"n_batches": len(window), "n_events": sum(want.values())}, window
        got = spark.read.parquet(delivery).groupBy("source", "batch_id").count().collect()
        assert {(r["source"], r["batch_id"]): r["count"] for r in got} == {
            ("clicks", b): n for b, n in want.items()
        }, window


def test_compaction_finds_a_source_whose_directory_name_spark_escapes(spark, tmp_path):
    """Spark writes source ``ads/click`` to ``source=ads%2Fclick``.
    Compaction finds that directory by unescaping the names it lists,
    as replay does, rewrites it in place, and replay still re-delivers
    every row of the source."""
    from serverless_datalake_spark.sources import replay

    lake_path, cat = str(tmp_path / "lake"), str(tmp_path / "cat")
    for b in range(3):
        blob = str(tmp_path / f"b{b}.json.gz")
        with gzip.open(blob, "wt") as f:
            for i in range(12):
                f.write(json.dumps({"event_id": b * 100 + i, "event_type": ("ads/click", "a:b")[i % 2]}) + "\n")
        ingest.ingest_batch(spark, blob, lake_path, cat, None, f"b{b}")
    assert sorted(os.listdir(lake_path)) == ["source=a%3Ab", "source=ads%2Fclick"]

    n_before, _ = maintenance.partition_file_stats(lake_path, "ads/click")
    stats = maintenance.compact_partition(spark, lake_path, "ads/click")
    assert stats["files_before"] == n_before >= 3
    assert stats["files_after"] < stats["files_before"]
    assert sorted(os.listdir(lake_path)) == ["source=a%3Ab", "source=ads%2Fclick"]
    got = spark.read.parquet(lake_path).groupBy("source").count().collect()
    assert {r["source"]: r["count"] for r in got} == {"ads/click": 18, "a:b": 18}
    res = replay.replay(spark, cat, lake_path, str(tmp_path / "delivery"), "ads/click", "2000-01-01", "2100-01-01")
    assert res == {"n_batches": 3, "n_events": 18}


def test_replay_rereads_files_of_a_nested_lake(spark, tmp_path):
    """A lake written with a finer partition chain than source= (here
    source=/day=) names one task's files alike in every day= directory.
    Replay re-reads such nested files rather than copying them by name,
    so no namesake shadows another, and the delivery keeps the source=
    layout."""
    from serverless_datalake_spark.sources import lake, replay

    flat, nested, cat = (str(tmp_path / n) for n in ("flat", "nested", "cat"))
    blob = str(tmp_path / "b0.json.gz")
    with gzip.open(blob, "wt") as f:
        for i in range(20):
            f.write(json.dumps({"event_id": i, "event_type": "clicks"}) + "\n")
    ingest.ingest_batch(spark, blob, flat, cat, None, "b0")
    spark.read.parquet(flat).withColumn("day", F.col("event_id") % 2).coalesce(1).write.partitionBy(
        "source", "day"
    ).parquet(nested)
    names = [
        sorted(os.path.basename(f) for f in glob.glob(os.path.join(nested, "source=clicks", f"day={d}", "*.parquet")))
        for d in (0, 1)
    ]
    assert names[0] == names[1] != []

    delivery = str(tmp_path / "delivery")
    res = replay.replay(spark, cat, nested, delivery, "clicks", "2000-01-01", "2100-01-01")
    assert res == {"n_batches": 1, "n_events": 20}
    assert all(os.path.isfile(f) for f in glob.glob(os.path.join(delivery, "source=clicks", "*")))
    assert sorted(r["event_id"] for r in lake.read_lake(spark, delivery).collect()) == list(range(20))


def test_orc_round_trip_with_partitioning_and_pushdown(spark, sf_dir, tmp_path):
    from serverless_datalake_spark.sources.lake import read_orc, write_orc
    from serverless_datalake_spark.tables import load_table

    e = load_table(spark, sf_dir, "events").withColumn("source", F.col("event_type"))
    path = str(tmp_path / "orc_lake")
    write_orc(e, path, partition_col="source")

    back = read_orc(spark, path)
    assert back.count() == e.count()
    assert set(back.select("source").distinct().toPandas()["source"]) == set(
        e.select("source").distinct().toPandas()["source"]
    )
    # partition pruning: a source filter must reach PartitionFilters
    pruned = back.where(F.col("source") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "click" in plan
    assert pruned.count() == e.where(F.col("event_type") == "click").count()


def test_compaction_of_nested_batch_layout_preserves_layout(spark, tmp_path):
    """A lake written with nested source=/batch_id= partitions: the
    rewrite must partition by the SAME chain (a source=-only overwrite
    would mix two physical layouts in one table) and the stats must
    count nested files."""
    lake_path = str(tmp_path / "lake")
    rows = [
        (b * 100 + i, f"2024-01-01T{i % 24:02d}:00:00", "clicks" if i % 2 == 0 else "tweets", f"b{b}")
        for b in range(3)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, source string, batch_id string")
    df.repartition(4).write.partitionBy("source", "batch_id").parquet(lake_path)

    n_before, nbytes = maintenance.partition_file_stats(lake_path, "clicks")
    assert n_before > 3  # nested files are counted
    assert maintenance._sub_partition_keys(lake_path, "clicks") == ["batch_id"]

    before_ids = sorted(r["event_id"] for r in spark.read.parquet(lake_path).collect())
    stats = maintenance.compact_partition(spark, lake_path, "clicks")
    assert stats["files_after"] < stats["files_before"]

    # layout preserved: no parquet file directly under source=clicks/
    flat = glob.glob(os.path.join(lake_path, "source=clicks", "*.parquet"))
    assert flat == []
    nested_dirs = {
        os.path.basename(d)
        for d in glob.glob(os.path.join(lake_path, "source=clicks", "batch_id=*"))
    }
    assert nested_dirs == {"batch_id=b0", "batch_id=b1", "batch_id=b2"}
    assert sorted(r["event_id"] for r in spark.read.parquet(lake_path).collect()) == before_ids


def test_write_checked_blocks_violating_batch(spark, sf_dir, tmp_path):
    """Constraint gate: a violating batch raises BEFORE any file
    lands; a clean batch writes normally; NULL check results count as
    violations (SQL CHECK must evaluate TO TRUE)."""
    import pytest as _pytest

    from serverless_datalake_spark.sources import constraints

    e = load_table(spark, sf_dir, "events").withColumn(
        "source", F.concat(F.lit("s"), (F.col("user_id") % 3).cast("string"))
    )
    path = str(tmp_path / "lake_checked")
    checks = {
        "value_nonneg": "value >= 0",
        "type_not_null": "event_type IS NOT NULL",
        "value_below_cap": "value < 40",  # violated by fixture data
    }
    with _pytest.raises(constraints.ConstraintViolation) as ei:
        constraints.write_checked(e, path, checks)
    assert "value_below_cap" in ei.value.violations
    assert ei.value.violations["value_below_cap"] > 0
    assert not os.path.exists(path), "violating batch must leave no files"

    ok_checks = {
        "value_nonneg": "value >= 0",
        "type_not_null": "event_type IS NOT NULL",
    }
    constraints.write_checked(e, path, ok_checks)
    assert spark.read.parquet(path).count() == e.count()

    # NULL-result semantics: a check over a NULL column is a violation
    withnull = e.withColumn(
        "maybe", F.when(F.col("value") > 20, F.col("value"))
    )
    bad = constraints.check_constraints(withnull, {"maybe_pos": "maybe > 0"})
    assert bad.get("maybe_pos", 0) > 0


def test_day_partitioned_layout_prunes_date_range(spark, sf_dir, tmp_path):
    """The generated day=date(ts) partition column must turn a date
    BETWEEN into plan-time PartitionFilters (no day outside the range
    is scanned), and the data must round-trip completely."""
    from serverless_datalake_spark.sources import lake

    e = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "by_day")
    lake.write_day_partitioned(e, path)
    assert spark.read.parquet(path).count() == e.count()

    r = lake.read_day_range(spark, path, "2024-01-02", "2024-01-03")
    plan = r._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "day" in plan.split("PartitionFilters")[1][:200]
    got_days = {str(x["day"]) for x in r.select("day").distinct().collect()}
    assert got_days and got_days <= {"2024-01-02", "2024-01-03"}
    expected = e.where(
        (F.to_date("ts") >= "2024-01-02") & (F.to_date("ts") <= "2024-01-03")
    ).count()
    assert r.count() == expected


def test_compaction_preserves_concurrent_append(spark, tmp_path):
    """A micro-batch file appended to the partition after compaction
    captured its input set must SURVIVE — the previous dynamic
    partition overwrite replaced the whole partition with the captured
    snapshot and silently deleted it (round-7 review finding). Also
    pins the crash-recovery manifest replay: a leftover doomed-list is
    finished by the next compaction."""
    import json as _json

    lake_path = str(tmp_path / "lake")
    df1 = spark.createDataFrame(
        [(i, "clicks", float(i)) for i in range(40)],
        "event_id long, source string, value double",
    )
    for _ in range(3):  # several small files
        df1.coalesce(2).write.mode("append").partitionBy("source").parquet(lake_path)

    # simulate the concurrent append landing between capture and commit:
    # capture happens inside compact_partition, so patch the capture to
    # ALSO drop a new file right after listing
    from serverless_datalake_spark.sources import maintenance as mnt

    real_capture = mnt._partition_files
    state = {"appended": False}

    def capture_then_append(lp, src):
        files = real_capture(lp, src)
        if not state["appended"]:
            state["appended"] = True
            spark.createDataFrame(
                [(9999, "clicks", 1.0)], "event_id long, source string, value double"
            ).write.mode("append").partitionBy("source").parquet(lp)
        return files

    mnt._partition_files = capture_then_append
    try:
        stats = mnt.compact_partition(spark, lake_path, "clicks", order_col="event_id")
    finally:
        mnt._partition_files = real_capture
    assert stats["files_before"] >= 3
    got = {r["event_id"] for r in spark.read.parquet(lake_path).collect()}
    assert 9999 in got  # the concurrent append survived
    assert got == set(range(40)) | {9999}

    # crash-recovery: a manifest left between append and delete is
    # replayed (survivors deleted, manifest removed, rows conserved)
    pdir = os.path.join(lake_path, "source=clicks")
    victims = sorted(
        f for f in glob.glob(os.path.join(pdir, "*.parquet"))
    )[:1]
    # baseline BEFORE the simulated crash: victims' content counted once
    rows_before = sorted(
        r["event_id"] for r in spark.read.parquet(lake_path).collect()
    )
    # duplicate the victim's content as a committed compacted copy
    # would be, then list the original as doomed (= crashed between
    # append and delete)
    spark.read.option("basePath", lake_path).parquet(*victims).write.mode(
        "append"
    ).partitionBy("source").parquet(lake_path)
    manifest = os.path.join(pdir, "_compact-test.doomed.json")
    with open(manifest, "w") as f:
        _json.dump(victims, f)
    mnt.compact_partition(spark, lake_path, "clicks", order_col="event_id")
    assert not os.path.exists(manifest)
    assert all(not os.path.exists(v) for v in victims)
    rows_after = sorted(
        r["event_id"] for r in spark.read.parquet(lake_path).collect()
    )
    assert rows_after == rows_before


def test_zorder_approx_supports_timestamp_columns(spark, sf_dir, tmp_path):
    """The canonical ZORDER BY (time, id) call must work on the
    default approx path: approxQuantile only accepts numeric columns,
    so temporal ones get an epoch-seconds surrogate (round-7 review
    finding — txlog_optimize(spark, path, 'ts', 'user_id') used to
    raise). Strings still raise with a clear pointer."""
    import pytest

    from serverless_datalake_spark.sources import zorder
    from serverless_datalake_spark.tables import load_table

    e = load_table(spark, sf_dir, "events").select("ts", "user_id", "event_type")
    out = str(tmp_path / "z")
    zorder.write_zordered(e, out, "ts", "user_id", files=4, method="approx")
    assert spark.read.parquet(out).count() == e.count()
    with pytest.raises(ValueError, match="method='exact'"):
        zorder.zorder_key_approx(e, "event_type", "user_id")


def test_concatenated_json_keeps_objects_missing_event_id(spark, tmp_path):
    """A structurally valid object lacking event_id must survive the
    parse with event_id null — the old guard filter discarded it
    indistinguishably from corruption (round-7 review finding)."""
    from serverless_datalake_spark.sources import lake

    blob = (
        '{"event_id": 1, "ts": "2024-01-01T00:00:00.000", "user_id": 7,'
        ' "event_type": "click", "value": 1.0, "props": "{}"}'
        '{"ts": "2024-01-01T01:00:00.000", "user_id": 8,'
        ' "event_type": "view", "value": 2.0, "props": "{}"}'
        '{"event_id": 93, "broken'
    )
    p = tmp_path / "blob.json.gz"
    with gzip.open(p, "wt") as f:
        f.write(blob)
    rows = lake.parse_concatenated_json(spark, str(p)).collect()
    types = sorted(r["event_type"] for r in rows if r["event_type"] is not None)
    assert types == ["click", "view"]  # the id-less object survived
    assert sum(1 for r in rows if r["event_id"] is None and r["event_type"] == "view") == 1


def test_compaction_crash_heals_both_directions(spark, tmp_path):
    """The round-8 two-phase protocol closes the round-7 ADVICE window
    (crash after append, before manifest → permanent silent doubling).
    Both crash states must heal to exactly-once data:

    * staging dir still present (crash mid-write/mid-move) → ROLLBACK:
      prefixed compacted copies removed, originals intact;
    * staging dir gone (crash after commit, before deletes) → ROLL
      FORWARD: originals removed, compacted copies kept.
    """
    import shutil as _shutil

    lake_path = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(i, "clicks", float(i)) for i in range(30)],
        "event_id long, source string, value double",
    )
    for _ in range(2):
        df.coalesce(2).write.mode("append").partitionBy("source").parquet(lake_path)
    pdir = os.path.join(lake_path, "source=clicks")
    baseline = sorted(
        r["event_id"] for r in spark.read.parquet(lake_path).collect()
    )

    # --- CASE 1: crash mid-move (staging present) → rollback ---
    victims = sorted(glob.glob(os.path.join(pdir, "*.parquet")))[:1]
    staging = os.path.join(pdir, "_compact-deadbeef.staging")
    os.makedirs(staging)
    marker = os.path.join(pdir, "_compact-deadbeef.intent.json")
    with open(marker, "w") as f:
        json.dump(
            {"doomed": victims, "staging": staging, "prefix": "compact-deadbeef-"},
            f,
        )
    # one compacted copy already moved into place, one still staged
    moved = os.path.join(pdir, "compact-deadbeef-" + os.path.basename(victims[0]))
    _shutil.copy(victims[0], moved)
    _shutil.copy(victims[0], os.path.join(staging, "part-staged.parquet"))
    maintenance._replay_intent_markers(lake_path, "clicks")
    assert not os.path.exists(moved) and not os.path.isdir(staging)
    assert not os.path.exists(marker)
    assert all(os.path.exists(v) for v in victims)  # originals untouched
    got = sorted(r["event_id"] for r in spark.read.parquet(lake_path).collect())
    assert got == baseline  # no duplication, no loss

    # --- CASE 2: crash after commit point (staging gone) → roll forward
    moved = os.path.join(pdir, "compact-cafef00d-" + os.path.basename(victims[0]))
    _shutil.copy(victims[0], moved)  # the committed compacted copy
    marker = os.path.join(pdir, "_compact-cafef00d.intent.json")
    with open(marker, "w") as f:
        json.dump(
            {
                "doomed": victims,
                "staging": os.path.join(pdir, "_compact-cafef00d.staging"),
                "prefix": "compact-cafef00d-",
            },
            f,
        )
    maintenance._replay_intent_markers(lake_path, "clicks")
    assert all(not os.path.exists(v) for v in victims)  # originals gone
    assert os.path.exists(moved)
    assert not os.path.exists(marker)
    got = sorted(r["event_id"] for r in spark.read.parquet(lake_path).collect())
    assert got == baseline  # exactly-once either way

    # an orphan staging dir with no marker is garbage-collected
    orphan = os.path.join(pdir, "_compact-00000000.staging")
    os.makedirs(orphan)
    maintenance._replay_intent_markers(lake_path, "clicks")
    assert not os.path.isdir(orphan)
