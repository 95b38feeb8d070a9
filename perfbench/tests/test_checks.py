"""Exceptions and wrong outputs both count as failed operations."""

import json

import pytest

from perfbench import workloads


def test_exception_counts_as_failure(tmp_path):
    wl = workloads.LakeIngest(str(tmp_path), seed=1, tracer_on=False)

    def boom():
        raise RuntimeError("engine failed")

    value, seconds, problem = wl.timed_call("ingest", boom)
    wl.out.record("ingest", seconds, 0, problem, timed=True)
    assert value is None and "engine failed" in problem
    assert (wl.out.attempted, wl.out.failed) == (1, 1)
    assert wl.out.latencies == {}


def test_untimed_failure_still_counts():
    out = workloads.Outcome()
    out.record("conservation.lake", 0.0, 0, None, timed=False)
    assert (out.attempted, out.failed) == (0, 0)
    out.record("conservation.lake", 0.0, 0, "got 1, want 2", timed=False)
    assert (out.attempted, out.failed) == (1, 1)


def test_tail_needs_ten_samples_beyond():
    assert workloads.tail([1.0] * 10) == (None, "none (n=10)")
    value, label = workloads.tail([float(i) for i in range(1, 101)])
    assert label == "p90 (n=100)" and value == 90.0


@pytest.fixture(scope="module")
def spark():
    from serverless_datalake_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", shuffle_partitions=4)
    yield s
    s.stop()


def _query_workload(tmp_path, spark, expected):
    """A query workload over a one-query registry and a fake fixture dir."""
    sf = tmp_path / "sf_fake"
    sf.mkdir(parents=True)
    (sf / "lineitem.parquet").write_text("")
    wl = workloads.QueryTail(str(tmp_path / "work"), seed=1, tracer_on=False, sf_dir=str(sf))
    wl.spark = spark
    wl.prepare(spark, str(tmp_path / "work"))

    class Q:
        fn = staticmethod(lambda s, d: s.range(5).selectExpr("id AS k"))

    wl.reg = {"q": Q}
    wl.order = ["q"]
    wl.expected = {"q": expected}
    return wl


def test_wrong_query_expectation_counts_as_failure(tmp_path, spark):
    good = _query_workload(tmp_path / "good", spark, {"rows": 5, "columns": ["k"]})
    good.step(0)
    assert (good.out.attempted, good.out.failed) == (1, 0)

    bad = _query_workload(tmp_path / "bad", spark, {"rows": 6, "columns": ["k"]})
    bad.step(0)
    assert (bad.out.attempted, bad.out.failed) == (1, 1)
    assert "want" in bad.out.failures[0]


def test_wrong_ingest_truth_counts_as_failure(tmp_path, spark):
    wl = workloads.LakeIngest(str(tmp_path), seed=3, tracer_on=False)
    wl.spark = spark
    wl.pool_size = 1
    wl.generate()
    wl.prepare(spark, str(tmp_path / "setup"))
    path, truth = wl.pool[0]
    wl.ingest_op()
    assert (wl.out.attempted, wl.out.failed) == (1, 0)
    # same blob again, but the expectation claims one line more
    truth.lines += 1
    wl.ingest_op()
    assert (wl.out.attempted, wl.out.failed) == (2, 1)
    truth.lines -= 1
    wl.conservation()
    assert wl.out.failed == 1, json.dumps(wl.out.failures)
